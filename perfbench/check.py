"""Output checks against the DuckDB oracles.

The comparison is the rule of ``scripts/preverify.py``: same column
names, then order-insensitive equality of rows whose floats are
rounded to 6 places and whose other values compare as text.  Expected
rows are computed once per fixture directory with DuckDB and cached
next to it as JSON.
"""

from __future__ import annotations

import decimal
import json
import math
import os


def norm(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    return str(v)


def canonical(columns: list[str], rows) -> dict:
    """Canonical form of a result: sorted column list + sorted rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(json.dumps([norm(r[i]) for i in order]) for r in rows)
    return {"columns": [columns[i] for i in order], "rows": out}


def expected(sf_dir: str, oracles: dict[str, str], names: list[str]) -> dict[str, dict]:
    """Expected canonical results per operator; cached in ``sf_dir``."""
    cache = os.path.join(sf_dir, "_expected.json")
    have: dict[str, dict] = {}
    if os.path.exists(cache):
        with open(cache) as fh:
            have = json.load(fh)
    missing = [n for n in names if n not in have]
    if missing:
        import duckdb

        con = duckdb.connect()
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{sf_dir}/{f}'")
        for name in missing:
            # the pandas fetch path, as preverify uses: DuckDB HUGEINT
            # aggregates arrive as float64 there, so an integral Spark
            # column against a float oracle column shows as a mismatch
            odf = con.execute(oracles[name]).fetch_df()
            have[name] = canonical(
                list(odf.columns), odf.itertuples(index=False, name=None)
            )
        con.close()
        tmp = f"{cache}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(have, fh)
        os.replace(tmp, cache)
    return {n: have[n] for n in names}


def frame_canonical(pdf) -> dict:
    return canonical(list(pdf.columns), pdf.itertuples(index=False, name=None))


def spark_canonical(df) -> dict:
    return frame_canonical(df.toPandas())


def same(got: dict, want: dict) -> bool:
    return got["columns"] == want["columns"] and got["rows"] == want["rows"]
