"""Hot-KEY skew stress (third adversarial axis, complementing
stress8x row duplication and stress_baskets basket width).

Per-key windows (sessionization, running sums, transition chains)
shuffle on user_id — uniform duplication never stresses them because
every key grows equally and AQE splits nothing. The dangerous shape
is ONE key holding a large fraction of the fact table: a single
straggler partition does all the window work. This harness rebuilds
sf0.1 events with user 0's rows duplicated HOT_COPIES times under
fresh event_ids (event_id uniqueness is load-bearing — the
first_seen tie-break invariant), yielding a key that owns ~HOT_COPIES
x (1/|users|) of the corpus, and times named registry operators.

Round 8 (VERDICT r7 item 6): ORDERS gets the same treatment — the
first BUILDING customer's orders are duplicated HOT_COPIES times
under fresh o_orderkeys, so the segment-statistics family
(welch/mannwhitney/levene/...) sees BOTH a hot join key AND a hot
VALUE domain (the duplicated rows repeat the same cents values, so
individual per-distinct-value cells in the rank-statistics domain
aggregation become heavy).

Usage: python scripts/stress_skew.py [op ...]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdataentrytask_spark.operators import REGISTRY, load_all
from bigdataentrytask_spark.session import get_spark

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = "/tmp/stress_skew_corpus"
# copies are sized so the hot key owns ~90% of its table (the round-7
# verdict's skew bar), computed from the base counts at build time
HOT_SHARE = 0.90
ID_STRIDE = 10_000_000

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

DEFAULT_OPS = [
    "user_sessions",
    "q3_user_payment",
    "latest_event_per_user",
    "event_transition_matrix",
    "first_seen_incremental",
]


def build(spark) -> None:
    # single-FILE parquet via pyarrow (catalog sniffs the events footer,
    # which requires a file path, not a spark output directory)
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(DST):
        shutil.rmtree(DST)
    os.makedirs(DST)
    import numpy as np

    cust = pq.read_table(os.path.join(SRC, "customer.parquet"))
    bld = cust.filter(pa.compute.equal(cust["c_mktsegment"], "BUILDING"))
    hot_cust = pa.compute.min(bld["c_custkey"]).as_py()

    for t in TABLES:
        src = os.path.join(SRC, f"{t}.parquet")
        dst = os.path.join(DST, f"{t}.parquet")
        if t == "events":
            key_col, id_col, hot_key = "user_id", "event_id", 0
        elif t == "orders":
            key_col, id_col, hot_key = "o_custkey", "o_orderkey", hot_cust
        else:
            shutil.copy(src, dst)
            continue
        tbl = pq.read_table(src)
        hot = tbl.filter(pa.compute.equal(tbl[key_col], hot_key))
        m, n = hot.num_rows, tbl.num_rows
        # copies so hot_total/(n + extra) ~= HOT_SHARE:
        copies = max(1, int((HOT_SHARE * n - m) / (m * (1 - HOT_SHARE))))
        big = hot.combine_chunks()
        rep = pa.concat_tables([big] * copies).combine_chunks()
        base_ids = np.asarray(big[id_col])
        offsets = np.repeat(
            np.arange(1, copies + 1, dtype=np.int64) * ID_STRIDE, m
        )
        rep = rep.set_column(
            rep.schema.get_field_index(id_col),
            id_col,
            pa.array(np.tile(base_ids, copies) + offsets,
                     type=big.schema.field(id_col).type),
        )
        pq.write_table(pa.concat_tables([tbl, rep]), dst)


def main() -> None:
    ops = sys.argv[1:] or DEFAULT_OPS
    load_all()
    spark = get_spark()
    build(spark)
    n = spark.read.parquet(os.path.join(DST, "events.parquet")).count()
    hot_n = (
        spark.read.parquet(os.path.join(DST, "events.parquet"))
        .filter("user_id = 0").count()
    )
    print(f"STRESS-SKEW corpus: {n} events, hot user holds {hot_n} "
          f"({100.0 * hot_n / n:.1f}%)")
    orders = spark.read.parquet(os.path.join(DST, "orders.parquet"))
    no = orders.count()
    hot_o = no - spark.read.parquet(
        os.path.join(SRC, "orders.parquet")
    ).count()
    print(f"STRESS-SKEW orders: {no} rows, hot customer's duplicates "
          f"add {hot_o} ({100.0 * hot_o / no:.1f}%)")
    for name in ops:
        t0 = time.time()
        rows = REGISTRY[name](spark, DST).count()
        print(f"STRESS-SKEW {name}: {rows} rows in {time.time() - t0:.2f}s",
              flush=True)
    shutil.rmtree(DST, ignore_errors=True)


if __name__ == "__main__":
    main()
