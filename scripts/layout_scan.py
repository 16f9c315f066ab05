"""Empirical partition-layout determinism scan: run every registered
operator under two deliberately different layouts (32 shuffle
partitions / default splits vs 5 partitions / 16 KB splits) and report
any whose collected rows differ. A difference is not necessarily an
oracle bug today — the DuckDB twin may still agree with the layout the
driver happens to produce — but it IS the flake class the round-8
float-determinism campaign eliminates, so new hits should be snapped
(CONTRIBUTING.md §8) or documented.

Usage: python scripts/layout_scan.py [--chunk I N] [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# streaming replays execute jobs on construction with their own confs;
# JDBC/sink ops mutate external state — both classes are layout-tested
# by their own suites instead
SKIP_PREFIXES = ("stream_", "jdbc_", "cdc_apply")
SKIP = {
    "dedup_resolve", "dedup_cluster_sizes", "semdedup_resolve",
    "mock_orders_profile", "bucketed_orc_join", "csv_roundtrip",
    "landing_batch_merge",
}


def rows_under(spark, fn, shuffle_parts: int, split_bytes: int):
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_parts))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split_bytes))
    return sorted(map(tuple, fn(spark, SF).collect()), key=repr)


def main(argv: list[str]) -> int:
    names = argv
    qs = e.queries()
    if names and names[0] == "--chunk":
        i, n = int(names[1]), int(names[2])
        allq = list(qs)
        per = -(-len(allq) // n)
        names = allq[i * per:(i + 1) * per]
    if not names:
        names = list(qs)
    names = [
        n for n in names
        if not n.startswith(SKIP_PREFIXES) and n not in SKIP
    ]
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    diff = []
    for name in names:
        try:
            a = rows_under(spark, qs[name], 32, 128 * 1024 * 1024)
            b = rows_under(spark, qs[name], 5, 16 * 1024)
            ok = a == b
        except Exception as exc:  # noqa: BLE001
            print(f"{name:32s} ERROR {type(exc).__name__}: {exc}"[:120])
            diff.append(name)
            continue
        print(f"{name:32s} {'same' if ok else 'LAYOUT-DIFF'}")
        if not ok:
            diff.append(name)
    print("LAYOUT-SENSITIVE:", diff if diff else "none")
    return 1 if diff else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
