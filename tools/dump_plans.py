"""Dump ``explain('formatted')`` for named queries to <out-dir>/<q>_<tag>.txt.

Usage: python tools/dump_plans.py --out plans/r12 --tag after [--iter] q_a q_b ...

Plan evidence only — builds each DataFrame (no execution beyond what the
query function itself runs, e.g. eager checkpoints/streams) and writes the
formatted physical plan. Run from any checkout; imports the package next to
this file's parent.

A checkpoint replaces lineage, so the final plan of an iterative query is a
vacuous scan of its last checkpoint. ``--iter`` also records the plan each
checkpoint computes: while one query is built, ``DataFrame.localCheckpoint``
is wrapped so that every call first writes the plan of the frame it is about
to compute to <out-dir>/<q>_<tag>_iters/ckpt_<NN>_<description>.txt. NN
counts from 01 for each query and <description> is the current Spark job
description, i.e. the label ``operators.core.materialize`` sets. The wrapper
is removed when the query function returns or raises.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import itertools
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402


def _write_plan(df: DataFrame, path: str) -> None:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    with open(path, "w") as f:
        f.write(buf.getvalue())


def dump_query(spark, name, fn, sf_dir: str, out: str, tag: str, iters: bool = False) -> None:
    """Build query ``name`` with ``fn`` and write its final plan; with
    ``iters``, also write every pre-checkpoint plan (module docstring)."""
    checkpoint = DataFrame.localCheckpoint
    if iters:
        iter_dir = os.path.join(out, f"{name}_{tag}_iters")
        os.makedirs(iter_dir, exist_ok=True)
        seq = itertools.count(1)

        def dumping_checkpoint(self, *args, **kwargs):
            desc = self.sparkSession.sparkContext.getLocalProperty("spark.job.description")
            _write_plan(self, os.path.join(iter_dir, f"ckpt_{next(seq):02d}_{desc}.txt"))
            return checkpoint(self, *args, **kwargs)

        DataFrame.localCheckpoint = dumping_checkpoint
    try:
        df = fn(spark, sf_dir)
    finally:
        DataFrame.localCheckpoint = checkpoint
    _write_plan(df, os.path.join(out, f"{name}_{tag}.txt"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--out", required=True)
    ap.add_argument("--tag", required=True)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument(
        "--iter",
        action="store_true",
        help="also dump the plan of every checkpoint a query computes while "
        "it is built: DataFrame.localCheckpoint is wrapped for the duration "
        "of each query and writes <out>/<query>_<tag>_iters/"
        "ckpt_<NN>_<job description>.txt, numbered from 01 per query (the "
        "final plan of a checkpointed loop is a vacuous scan of the last "
        "checkpoint; the loop-body plans are where Exchange/Join deltas are "
        "visible)",
    )
    args = ap.parse_args()

    from sales_data_pipeline_gcp_spark.plans.registry import all_queries
    from sales_data_pipeline_gcp_spark.session import get_spark

    spark = get_spark("dump-plans")
    os.makedirs(args.out, exist_ok=True)
    all_q = all_queries()
    for name in args.queries:
        dump_query(spark, name, all_q[name].fn, args.sf_dir, args.out, args.tag, args.iter)
        print(name, "ok")
    spark.stop()


if __name__ == "__main__":
    main()
