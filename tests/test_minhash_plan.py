"""minhash_dedup plan construction: driver round-trip budget, the
kernel-lane size estimate, and the PLANS.md rows of the two corpus
operators checked against a fresh run of HEAD's plans."""

from __future__ import annotations

import logging
import pathlib
import re
import threading

import pytest

from pyspark.sql import functions as F

from bigdataentrytask_spark.catalog import load_table
from bigdataentrytask_spark.functions.text import (
    spark_sql_token_hash,
    spark_sql_tokens,
    token_hash,
    tokens,
)
from bigdataentrytask_spark.operators import REGISTRY, load_all
from bigdataentrytask_spark.operators.dedup import _scan_size_bytes
from bigdataentrytask_spark.plans.audit import audit_operator

from .conftest import SF_DIR, SF_DIR_SMALL

load_all()

# Building the plan from a handful of SQL expression strings costs
# ~160 py4j commands per call; per-column Column-API construction (32
# min chains, 32 casts, 8 band structs) cost ~6,500.
PY4J_BUDGET = 250


def test_minhash_dedup_py4j_budget(spark, monkeypatch):
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    me = threading.get_ident()
    n = 0

    def counting(*args, **kwargs):
        nonlocal n
        # py4j's finalizer thread releases garbage-collected JVM
        # references at arbitrary times; count this thread's only
        if threading.get_ident() == me:
            n += 1
        return orig(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    df = REGISTRY["minhash_dedup"](spark, SF_DIR_SMALL)
    monkeypatch.undo()
    assert n <= PY4J_BUDGET, f"{n} py4j commands to build minhash_dedup"
    assert df.columns == ["doc_a", "doc_b", "est_sim"]
    assert dict(df.dtypes)["est_sim"] == "double"


def test_spark_sql_twins_match_column_forms(spark):
    docs = load_table(spark, SF_DIR, "documents")
    toks = docs.select(
        tokens("text").alias("col"), F.expr(spark_sql_tokens("text")).alias("sql")
    )
    assert toks.filter("NOT (col <=> sql)").count() == 0
    hashes = toks.select(F.explode("col").alias("tok")).select(
        token_hash("tok").alias("col"),
        F.expr(spark_sql_token_hash("tok")).alias("sql"),
    )
    assert hashes.filter("NOT (col <=> sql)").count() == 0
    assert hashes.count() > 0


def test_scan_size_bytes_positive_on_documents(spark):
    docs = load_table(spark, SF_DIR, "documents")
    assert _scan_size_bytes(docs, "documents") > 0


def test_scan_size_bytes_warns_when_statistics_missing(caplog):
    class NoStats:
        @property
        def _jdf(self):
            raise RuntimeError("no statistics")

    with caplog.at_level(logging.WARNING):
        assert _scan_size_bytes(NoStats(), "probe_frame") == 0
    assert "probe_frame" in caplog.text


def _plans_md_exchanges(name: str) -> int:
    text = (pathlib.Path(__file__).resolve().parents[1] / "PLANS.md").read_text()
    m = re.search(rf"^\| {name} \| (\d+) \|", text, re.M)
    assert m, f"no PLANS.md row for {name}"
    return int(m.group(1))


@pytest.mark.parametrize("name", ["minhash_dedup", "heavy_hitter_tokens"])
def test_plans_md_exchanges_match_head(spark, name):
    n_exch, _bcast, _codegen, _cols = audit_operator(spark, name, SF_DIR)
    assert _plans_md_exchanges(name) == n_exch
