"""Composed-operator persist hygiene (VERDICT r7 item 4): every
operator that persists a shared intermediate must release it before
returning — a registry call leaves ZERO lingering cached RDDs behind.

The sanctioned pattern is ``with_persisted(...)`` + ``materialize``
(operators/__init__.py): persist the multi-consumer input, evaluate
the bounded result inside the block, unpersist in ``finally``. A bare
``.cache()`` pins executor memory for the rest of a 400-operator
sweep session, which is exactly what these tests exist to prevent.
"""

from __future__ import annotations

import pytest

from bigdataentrytask_spark.operators import (
    REGISTRY,
    load_all,
    materialize,
    with_persisted,
)

from .conftest import SF_DIR_SMALL

load_all()

# Every operator that persists internally (the with_persisted users).
# knn_lsh and heavy_hitter_tokens left this list in the round-15
# optimization pass (they no longer persist: recompute of their narrow
# shared frames measured cheaper than the persist round-trip) but stay
# parameterized — the no-lingering-cache property must keep holding
# for them trivially.
PERSISTING_OPS = [
    "dbscan_core_census",
    "neardup_transitivity_audit",
    "knn_rrf_fusion",
    "knn_lsh",
    "heavy_hitter_tokens",
    "dedup_cluster_cohesion",
]


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("name", PERSISTING_OPS)
def test_no_lingering_cache_after_registry_call(spark, name):
    spark.catalog.clearCache()
    before = _n_cached(spark)
    df = REGISTRY[name](spark, SF_DIR_SMALL)
    rows = df.collect()
    assert rows is not None  # the op ran end-to-end
    assert _n_cached(spark) == before, (
        f"{name} left {_n_cached(spark) - before} persisted RDD(s) behind"
    )


def test_with_persisted_releases_on_error(spark):
    df = spark.range(10)
    before = _n_cached(spark)
    with pytest.raises(RuntimeError):
        with with_persisted(df):
            df.count()  # materialize so the cached RDD registers
            assert _n_cached(spark) == before + 1
            raise RuntimeError("boom")
    assert _n_cached(spark) == before


def test_materialize_preserves_schema_and_rows(spark):
    df = spark.range(5).selectExpr(
        "id", "cast(id * 2 as double) as dbl", "cast(id as string) as s"
    )
    local = materialize(df)
    assert local.schema == df.schema
    assert sorted(map(tuple, local.collect())) == sorted(map(tuple, df.collect()))


def test_materialize_plans_as_local_table_scan(spark):
    """The rows stay in the JVM: the result is a LocalTableScan, not a
    Python-backed ExistingRDD scan that forks workers on every action."""
    from bigdataentrytask_spark.plans import executed_plan

    local = materialize(spark.range(30).selectExpr("id", "id * 2 AS v"))
    local.write.format("noop").mode("overwrite").save()
    plan = executed_plan(local)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_materialize_round_trips_types_exactly(spark):
    df = spark.sql(
        """
        SELECT * FROM VALUES
          (1,
           CAST('12345678901234567890.123456789012345678' AS DECIMAL(38,18)),
           TIMESTAMP'2024-03-10 02:30:00.123456',
           TIMESTAMP_NTZ'1899-12-31 23:59:59.999999',
           DATE'0001-01-01',
           X'00FF10',
           array(named_struct('a', 1, 'b', 'x'), NULL),
           map('k', 1.5D, 'z', CAST(NULL AS DOUBLE))),
          (2, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
        AS t(id, dec, ts, ts_ntz, dt, bin, arr, m)
        """
    )
    local = materialize(df)
    assert local.schema == df.schema
    # JVM-side rendering (no Python value conversion in between) and
    # the Python values must both agree exactly
    render = [
        "id",
        "cast(dec as string)",
        "cast(ts as string)",
        "cast(ts_ntz as string)",
        "cast(dt as string)",
        "hex(bin)",
        "cast(arr as string)",
        "cast(m as string)",
    ]
    assert (
        local.selectExpr(*render).orderBy("id").collect()
        == df.selectExpr(*render).orderBy("id").collect()
    )
    assert local.orderBy("id").collect() == df.orderBy("id").collect()


def test_materialize_empty_result(spark):
    df = spark.range(5).filter("id < 0")
    local = materialize(df)
    assert local.schema == df.schema
    assert local.count() == 0


def test_no_bare_cache_sites_in_operators():
    """Grep-level guard: operator modules must not call .cache() —
    with_persisted is the only sanctioned persistence path."""
    import pathlib

    import bigdataentrytask_spark.operators as ops_pkg

    pkg_dir = pathlib.Path(ops_pkg.__file__).parent
    offenders = []
    for py in pkg_dir.glob("*.py"):
        if py.name == "__init__.py":  # helper's docstring names the anti-pattern
            continue
        src = py.read_text()
        for i, line in enumerate(src.splitlines(), 1):
            if ".cache()" in line and not line.lstrip().startswith("#"):
                offenders.append(f"{py.name}:{i}")
    assert offenders == [], f"bare .cache() in operator modules: {offenders}"
