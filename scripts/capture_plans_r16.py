#!/usr/bin/env python
"""Capture .explain('formatted') for headline queries into plans/r16/<q>_<tag>.txt."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bigdataentrytask_spark.operators import REGISTRY, capture, load_all
from bigdataentrytask_spark.plans.audit import unwrap_materialized
from bigdataentrytask_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
NAMES = sys.argv[2:]  # empty = all headline


def main():
    load_all()
    import bench

    names = NAMES or bench.HEADLINE
    spark = get_spark("plan-capture-r16")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r16"
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        # Run under capture() so a materialize() stub (LocalRelation)
        # can be swapped for the real inner plan it evaluated — the
        # r15 capture wrote 8-line ExistingRDD stubs for those ops
        # (VERDICT r15 note 5).
        with capture():
            df = unwrap_materialized(REGISTRY[name](spark, SF_DIR))
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        with open(os.path.join(out_dir, f"{name}_{TAG}.txt"), "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {len(plan.splitlines())} lines, {n_ex} Exchange")
    spark.stop()


if __name__ == "__main__":
    main()
