"""Driver-mimicking pre-verify: run named queries() entries against their
DuckDB oracles with a VANILLA SparkSession, comparing like the grading driver
(column names, row counts, order-insensitive normalized values — and a pandas
canonicalization probe that crashes on non-hashable columns exactly like the
driver's canonicalizer does).

Usage:  python scripts/preverify.py [name ...]
        python scripts/preverify.py --never       # ops with no CORRECTNESS row yet
        python scripts/preverify.py --sweep [N]   # first N (default 50) in
                                                  # queries() order — the driver's
                                                  # exact per-round slate
        python scripts/preverify.py --chunk I N   # I-th of N equal slices of the
                                                  # full registry (full-registry
                                                  # audits under a session-runner
                                                  # timeout; round-8 precedent)
(no args = every registered query)
"""

from __future__ import annotations

import decimal
import glob
import json
import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def norm(v):
    # Spark toPandas keeps DECIMAL as decimal.Decimal objects while
    # DuckDB's fetch_df flattens DECIMAL to float64 — unify to rounded
    # float so the two pandas paths compare like values.
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    return str(v)


def decimal_cols(spdf: pd.DataFrame) -> list[str]:
    """Columns where the SPARK side hands pandas decimal.Decimal objects.
    The driver hashes their textual form ("501303700.12345678") against
    DuckDB's fetch_df, which flattens DECIMAL(38,x) to float64 — both a
    textual mismatch and a precision loss (the round-4
    pricing_summary_decimal red). Decimal output columns cannot survive
    the driver path: emit value × 10^scale AS BIGINT (exact) or cast to
    DOUBLE + ROUND (fuzzy) instead."""
    out = []
    for c in spdf.columns:
        if spdf[c].dtype == object and len(spdf):
            v = spdf[c].dropna()
            if len(v) and isinstance(v.iloc[0], decimal.Decimal):
                out.append(c)
    return out


def hugeint_cols(spdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Columns bearing the HUGEINT fingerprint: float64 in the DuckDB
    pandas fetch while the Spark side is integral. The driver's value
    hash would compare "3.0" against "3" and fail despite identical
    values — the round-3 red class. A nullable Spark long column
    coerces to float64 on BOTH sides and is correctly not flagged."""
    return [
        c for c in odf.columns
        if c in spdf.columns
        and spdf[c].dtype.kind in "iu"
        and odf[c].dtype.kind == "f"
    ]


def canon_probe(pdf: pd.DataFrame, name: str) -> None:
    """Mimic the driver's pandas canonicalization: sort_values over every
    column raises on unhashable cells (arrays/maps) — fail loudly here."""
    if len(pdf.columns) and len(pdf):
        pdf = pdf.reindex(sorted(pdf.columns), axis=1)
        pdf.sort_values(list(pdf.columns), key=None)


def main(argv: list[str]) -> int:
    names = argv
    if names and names[0] == "--sweep":
        n = int(names[1]) if len(names) > 1 else 50
        names = list(e.queries())[:n]
    if names and names[0] == "--chunk":
        i, n = int(names[1]), int(names[2])
        allq = list(e.queries())
        per = -(-len(allq) // n)  # ceil division
        names = allq[i * per:(i + 1) * per]
    if names == ["--never"]:
        checked: set[str] = set()
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        for p in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
            with open(p) as fh:
                checked |= set(json.load(fh))
        names = [q for q in e.queries() if q not in checked]
    qs, osql = e.queries(), e.oracle_sql()
    if not names:
        names = list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print("unknown queries:", unknown)
        return 2

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    bad = []
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, SF)
            spdf = df.toPandas()
            canon_probe(spdf.head(1000), name)
            if name not in osql:
                print(f"{name:32s} rows={len(spdf):7d} (rows-only) "
                      f"[{time.time()-t0:.1f}s]")
                continue
            # Fetch the oracle through the PANDAS path — the driver's
            # canonicalizer goes df-wise, and DuckDB HUGEINT (the type of
            # SUM(int)/count_if) coerces to float64 there, while fetchall()
            # would hand back exact Python ints and hide the mismatch
            # (round-3 lesson: three reds shipped through that blind spot).
            odf = con.execute(osql[name]).fetch_df()
            dcols = list(odf.columns)
            scols = list(df.columns)
            if sorted(scols) != sorted(dcols):
                print(f"{name:32s} COLS-MISMATCH spark={scols} duck={dcols}")
                bad.append(name)
                continue
            deccols = decimal_cols(spdf)
            if deccols:
                print(f"{name:32s} DECIMAL-OUTPUT Spark cols {deccols} are "
                      f"decimal.Decimal in pandas — the driver compares their "
                      f"textual form against DuckDB float64; emit scaled "
                      f"BIGINT (value*10^scale) or DOUBLE instead")
                bad.append(name)
                continue
            hugeint = hugeint_cols(spdf, odf)
            if hugeint:
                print(f"{name:32s} HUGEINT-DTYPE oracle cols {hugeint} are "
                      f"float64 but Spark side is integral — wrap the "
                      f"aggregate in CAST(... AS BIGINT)")
                bad.append(name)
                continue
            s = sorted(
                [tuple(norm(v) for v in row)
                 for row in spdf[dcols].itertuples(index=False, name=None)],
                key=repr)
            d = sorted(
                [tuple(norm(v) for v in row)
                 for row in odf.itertuples(index=False, name=None)],
                key=repr)
            ok = s == d
            print(f"{name:32s} rows={len(s):7d}/{len(d):7d} "
                  f"{'MATCH' if ok else 'MISMATCH'} [{time.time()-t0:.1f}s]")
            if not ok:
                bad.append(name)
                for i, (a, b) in enumerate(zip(s, d)):
                    if a != b:
                        print(f"   first diff @ sorted idx {i}:")
                        print(f"    spark={a}")
                        print(f"    duck ={b}")
                        break
                if len(s) != len(d):
                    print(f"   row-count diff: spark={len(s)} duck={len(d)}")
        except Exception as ex:  # driver records err the same way
            print(f"{name:32s} ERROR {type(ex).__name__}: {ex}")
            bad.append(name)
    print()
    print("FAILED:", bad) if bad else print("ALL MATCH")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
