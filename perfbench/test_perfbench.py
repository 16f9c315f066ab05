"""Self-tests of the benchmark's own measurement code.

    python3 -m pytest perfbench/test_perfbench.py -q

The last test starts Spark (about a minute); the others are pure Python.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import stream as st  # noqa: E402
import measure as tr  # noqa: E402


# ------------------------------------------------------------ percentiles
@pytest.mark.parametrize("n,want", [
    (9, None), (19, None), (20, 50), (99, 50), (100, 90), (999, 90),
    (1000, 99), (9999, 99), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tr.tail_percentile(n) == want


def test_quantile_interpolates():
    xs = list(range(1, 101))  # 1..100
    assert tr.quantile(xs, 0.5) == pytest.approx(50.5)
    assert tr.quantile(xs, 0.9) == pytest.approx(90.1)
    assert tr.quantile([3.0], 0.9) == 3.0


# -------------------------------------------------------------- freshness
def _progress(batch_id, start_s, dur_ms, rows):
    ts = f"2026-01-01T00:00:{start_s:06.3f}Z"
    return {"batchId": batch_id, "timestamp": ts, "numInputRows": rows,
            "durationMs": {"triggerExecution": dur_ms}}


def test_freshness_uses_progress_timestamps_and_slowest_query():
    base = st.epoch_s("2026-01-01T00:00:00.000Z")
    due = [base + 1.0, base + 2.0, base + 3.0]
    # query A: one batch covers files 0-1 (ends 2.5 s), next covers 2 (ends 4.0 s)
    qa = [_progress(0, 1.5, 1000, 200), _progress(1, 3.5, 500, 100)]
    # query B: a no-data batch, then one batch for all three (ends 5.0 s);
    # progress arrives out of order, which must not matter
    qb = [_progress(1, 4.0, 1000, 300), _progress(0, 0.5, 100, 0)]
    got = st.freshness(due, 100, [qa, qb])
    assert got == pytest.approx([4.0, 3.0, 2.0])


def test_freshness_skips_prior_rows_and_leaves_out_uncovered_files():
    base = st.epoch_s("2026-01-01T00:00:00.000Z")
    q = [_progress(0, 0.0, 1000, 100), _progress(1, 2.0, 1000, 100)]
    # the first 100 rows were read before the first due file
    got = st.freshness([base + 1.5, base + 2.5], 100, [q], skip_rows=100)
    assert got == pytest.approx([1.5])


# --------------------------------------------------------------- spans
def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 1, "parent": None, "name": "pass", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "a", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "name": "b", "start": 3.0, "end": 5.0},  # overlaps a
        {"id": 4, "parent": 1, "name": "c", "start": 9.0, "end": 12.0},  # runs past
        {"id": 5, "parent": 2, "name": "a.x", "start": 1.0, "end": 2.0},
    ]
    self_t = tr.self_times(spans)
    assert self_t[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_t[2] == pytest.approx(2.0)
    assert self_t[3] == pytest.approx(2.0)
    assert self_t[5] == pytest.approx(1.0)


def test_tracer_records_parent_ids_and_disabled_tracer_still_times():
    t = tr.Tracer(True)
    with t.span("outer"):
        with t.span("inner") as inner:
            pass
    assert inner["dur"] >= 0
    by_name = {s["name"]: s for s in t.spans}
    assert by_name["inner"]["parent"] == by_name["outer"]["id"]
    off = tr.Tracer(False)
    with off.span("x") as rec:
        pass
    assert off.spans == [] and rec["dur"] >= 0


# ------------------------------------------------------------- checks
def test_canonical_compare_is_order_insensitive_and_type_strict():
    a = check.canonical(["b", "a"], [(1, 0.1 + 0.2), (2, 1.0)])
    b = check.canonical(["a", "b"], [(1.0, 2), (0.3, 1)])
    assert check.same(a, b)
    # an integral column against a float one (DuckDB HUGEINT via pandas)
    c = check.canonical(["a", "b"], [(1.0, 2.0), (0.3, 1)])
    assert not check.same(a, c)


def test_parse_size_reads_spark_metric_text():
    assert tr.parse_size("78.3 KiB") == pytest.approx(78.3 * 1024)
    assert tr.parse_size("total (min, med, max)\n1.5 MiB (0.1 MiB, ...)") == 1.5 * 2**20
    assert tr.parse_size("0.0 B") == 0.0


# ---------------------------------------------------------- inputs
def test_generated_footers_match_the_fixture_layout(tmp_path):
    """The files the workloads read carry the sf fixtures' physical
    types, events.ts as TIMESTAMP(MICROS) included."""
    import fixture

    d = fixture.materialize(str(tmp_path), 0.01, 1)
    assert fixture.footer_types(f"{d}/documents.parquet") == fixture.PHYSICAL["documents"]
    staged, _ = st.stage_files(fixture.events_table(1000, 10), 0, 2, 100,
                               str(tmp_path / "stage"))
    for path in staged:
        assert fixture.footer_types(path) == fixture.PHYSICAL["events"]


def test_seed_changes_row_order_not_content(tmp_path):
    import pyarrow.parquet as pq

    import fixture

    a, b = (pq.read_table(f"{fixture.materialize(str(tmp_path), 0.01, s)}/documents.parquet")
            for s in (1, 2))
    assert not a.equals(b)
    assert a.sort_by("doc_id").equals(b.sort_by("doc_id"))
    assert fixture.events_table(500, 10).equals(fixture.events_table(500, 10))


# ------------------------------------------------- kernel-layer bypass
def test_stream_path_spawns_no_python_worker(tmp_path):
    """The stream workload's Spark work (the four jobs, offline_topology)
    is the one that bypasses the Arrow-kernel layer: no Python worker
    may start.  A corpus operator is the positive control."""
    pytest.importorskip("pyspark")
    import pyarrow.parquet as pq

    import fixture

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYTHONPATH"] = root
    from bigdataentrytask_spark import pipelines
    from bigdataentrytask_spark.catalog import load_table
    from bigdataentrytask_spark.operators import REGISTRY, load_all
    from bigdataentrytask_spark.session import get_spark
    from bigdataentrytask_spark.streaming import jobs

    load_all()
    spark = get_spark("perfbench-selftest")
    try:
        d = str(tmp_path)
        pq.write_table(fixture.events_table(2000, 50),
                       f"{d}/events.parquet")
        procs = tr.ProcSampler()
        ev = load_table(spark, d, "events")
        for job in (jobs.tumble_minute, jobs.user_totals, jobs.channel_totals,
                    jobs.daily_user_partials):
            job(ev).write.mode("overwrite").format("noop").save()
        pipelines.offline_topology(spark, d, f"{d}/out").collect()
        assert procs.sample()["n_workers"] == 0
        pq.write_table(fixture.documents_table(200),
                       f"{d}/documents.parquet")
        REGISTRY["heavy_hitter_tokens"](spark, d).collect()
        assert procs.sample()["n_workers"] > 0
    finally:
        spark.stop()
