#!/usr/bin/env python
"""Capture .explain('formatted') for named registry queries into
plans/<round>/<name>_<tag>.txt (optimization-round deliverable).

Usage: python scripts/capture_plans.py <tag> <query> [<query> ...]
Round dir defaults to r13; override with KARNA_PLANS_ROUND.
Builders run at sf0.1 (side-effecting lifecycle builders execute their
commits first — the captured plan is the query's final read plan,
exactly what the bench's noop sink executes).

MATERIALIZATION plans (r12 verdict item 6): a change upstream of a
``localCheckpoint`` never shows in the final read plan — the captured
plan starts at the checkpointed RDD. To keep such changes evidenced,
every ``localCheckpoint`` call made while a builder runs ALSO dumps
the plan of the frame being checkpointed, to
``<name>_<tag>_ckpt<N>.txt``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rnd = os.environ.get("KARNA_PLANS_ROUND", "r13")
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        rnd,
    )
    os.makedirs(outdir, exist_ok=True)

    from pyspark.sql import DataFrame

    from karna_spark.queries import REGISTRY
    from karna_spark.session import get_spark

    spark = get_spark(app_name="capture_plans")

    def fmt(df) -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    orig_ckpt = DataFrame.localCheckpoint
    state = {"name": "", "n": 0}

    def traced_ckpt(self, *a, **kw):
        state["n"] += 1
        path = os.path.join(
            outdir, f"{state['name']}_{tag}_ckpt{state['n']}.txt"
        )
        try:
            plan = fmt(self)
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path} ({len(plan)} bytes)")
        except Exception as exc:  # capture must never break the builder
            print(f"ckpt plan capture failed: {exc}", file=sys.stderr)
        return orig_ckpt(self, *a, **kw)

    DataFrame.localCheckpoint = traced_ckpt
    try:
        for name in names:
            state["name"], state["n"] = name, 0
            df = REGISTRY[name].builder(spark, sf_dir)
            plan = fmt(df)
            path = os.path.join(outdir, f"{name}_{tag}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path} ({len(plan)} bytes)")
    finally:
        DataFrame.localCheckpoint = orig_ckpt
    spark.stop()


if __name__ == "__main__":
    main()
