"""One benchmark run of one workload, in a fresh process.

Started by run.py with the run's environment (PYTHONPATH, CPU count,
driver memory, per-run TMPDIR/warehouse/cwd).  Writes the result JSON
to ``--out``; progress and the per-layer summary go to stderr.  With
``--cold-only`` it makes the set-up and the workload's cold pass,
writes their figures to ``--out`` and exits: run.py starts one before
the measuring worker and passes its file as ``--probe``, so the cold
figures (set-up and first pass) are medians over two fresh processes.

The gated end-to-end metrics are set-up wall time and CPU seconds:
on a shared host, steal moves every wall-clock figure by tens of
percent from run to run, while CPU time does not count steal.  The
wall-clock figures (pass times, latency, freshness) are per-layer
metrics of the traced run and are printed on stderr by every run.

Only the standard library is imported before the set-up, so the
set-up pays for importing pyspark, pandas, numpy and pyarrow.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import measure as tr  # noqa: E402  (standard library only)

# corpus warm passes run for --seconds, and at least this many; the
# last MEASURED_PASSES are measured, the ones before let JIT compilation
# and Python worker start-up tail off
MIN_WARM_PASSES = 5
MEASURED_PASSES = 3
CORPUS_SF = 0.01
CORPUS_OPS = ["minhash_dedup", "heavy_hitter_tokens"]
CORPUS_TABLES = ["documents"]
STREAM_SF = 0.1
STREAM_FILES_PER_S = 10
STREAM_ROWS_PER_FILE = 100
OFFLINE_WARM_PASSES = 3  # traced runs only
GEN_LATE_S = 0.05
SETUP_LAYERS = ["operators.load_all_s", "session.get_spark_s", "session.warmup_s"]
COLD_E2E = ["setup_s", "first_pass_cpu_s"]
COLD_LAYERS = SETUP_LAYERS + ["first_pass_s"]
# per-layer metrics of the stream layers; counts, shares and bytes, so a
# workload without a stream reports 0 rather than a made-up time
STREAM_ONLY = [
    "stream.batches", "stream.addBatch_pct", "stream.queryPlanning_pct",
    "stream.latestOffset_pct", "stream.walCommit_pct", "stream.state_rows",
    "stream.state_mb", "sink.upsert_pct", "sink.rows", "landing.bytes",
    "stream.backlog_files_end", "gen.late_files",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def cpu_total(d: dict) -> float:
    """CPU seconds of the driver, the JVM and the Python workers."""
    return d["driver"] + d["jvm"] + d["python_workers"]


def cpu_warm(d: dict) -> float:
    """cpu_total less the JVM's JIT compiler threads: in warm passes the
    JIT is warm-up still tailing off, at a rate that differs per run."""
    return cpu_total(d) - d["jit"]


class Run:
    def __init__(self, args):
        self.args = args
        self.tracer = tr.Tracer(bool(args.trace))
        self.procs = tr.ProcSampler()
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.cold: dict[str, float] = {}  # this process's set-up and cold pass
        self.layer: dict[str, float] = {}
        self.spark = None

    # ------------------------------------------------------------ setup
    def setup(self) -> None:
        """load_all + get_spark + warm-up query in this fresh process:
        the first Spark session launches the JVM."""
        with self.tracer.span("setup") as s:
            with self.tracer.span("operators.load_all") as a:
                from bigdataentrytask_spark import operators

                operators.load_all()
            with self.tracer.span("session.get_spark") as b:
                from bigdataentrytask_spark.session import get_spark

                self.spark = get_spark("perfbench")
            with self.tracer.span("session.warmup") as c:
                self.spark.range(1_000_000).selectExpr("sum(id)").collect()
        self.ops = operators
        self.engine = tr.EngineStats(self.spark) if self.args.trace else None
        self.cold.update(zip(["setup_s"] + SETUP_LAYERS,
                             [s["dur"], a["dur"], b["dur"], c["dur"]]))

    def cold_metrics(self, probe: dict) -> None:
        """Medians of the cold figures over this process and the
        --cold-only process run.py started before it."""
        samples = [self.cold, probe["cold"]]
        for k in COLD_E2E:
            self.e2e[k] = tr.median([x[k] for x in samples])
        for k in COLD_LAYERS:
            self.layer[k] = tr.median([x[k] for x in samples])
        self.attempted += probe["attempted"]
        self.failed += probe["failed"]
        for k in ("setup_s", "first_pass_cpu_s"):
            log(f"cold samples {k}: {[round(x[k], 3) for x in samples]}")

    # --------------------------------------------------------- metering
    def metered(self, fn):
        """Run fn(); return (its result, wall seconds, CPU/steal deltas,
        the /proc sample taken after)."""
        a = self.procs.sample()
        t = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t
        b = self.procs.sample()
        return out, wall, tr.delta(a, b), b

    def warm_passes(self, one_pass, min_passes: int, seconds: float):
        """Warm passes for ``seconds`` (at least ``min_passes``); returns
        every pass, the measured ones last.  With tracing on, passes
        alternate traced/untraced so the traced run reports its own
        overhead."""
        rows = []
        start = time.perf_counter()
        while len(rows) < min_passes or time.perf_counter() - start < seconds:
            traced = bool(self.args.trace) and len(rows) % 2 == 0
            self.tracer.enabled = traced
            out, wall, d, after = self.metered(one_pass)
            self.tracer.enabled = bool(self.args.trace)
            rows.append({"wall": wall, "cpu": d, "after": after, "out": out,
                         "traced": traced,
                         "engine": self.engine.collect() if self.args.trace else {}})
            log(f"  warm pass {len(rows)}: {wall:.3f}s cpu(drv/jvm/py)="
                f"{d['driver']:.2f}/{d['jvm'] - d['jit']:.2f}/{d['python_workers']:.2f} "
                f"jit={d['jit']:.2f} "
                f"steal={d['steal']:.2f}s load1={after['load1']:.2f}"
                f"{' traced' if traced else ''}")
        return rows

    def pass_layers(self, rows) -> None:
        """Per-layer figures of the warm passes."""
        self.layer["driver.cpu_s"] = tr.median([r["cpu"]["driver"] for r in rows])
        self.layer["jvm.cpu_s"] = tr.median([r["cpu"]["jvm"] - r["cpu"]["jit"] for r in rows])
        self.layer["jvm.jit_cpu_s"] = tr.median([r["cpu"]["jit"] for r in rows])
        self.layer["python_workers.cpu_pct"] = tr.median(
            [100 * r["cpu"]["python_workers"] / max(1e-9, cpu_warm(r["cpu"]))
             for r in rows])
        last = rows[-1]["after"]
        self.layer["python_workers.count"] = last["n_workers"]
        self.layer["jvm.peak_rss_mb"] = last["jvm_hwm_mb"]
        self.layer["python_workers.peak_rss_mb"] = last["workers_hwm_mb"]
        self.layer["host.steal_pct"] = tr.median(
            [100 * r["cpu"]["steal"] / (r["wall"] * (os.cpu_count() or 1)) for r in rows])
        self.layer["host.load1"] = tr.median([r["after"]["load1"] for r in rows])
        self.layer["op.build_s"] = tr.median([r["out"][1] for r in rows])
        self.layer["op.run_s"] = tr.median([r["out"][2] for r in rows])
        if self.args.trace:
            for k in rows[0]["engine"]:
                self.layer[k] = tr.median([r["engine"][k] for r in rows])
            traced = [r["wall"] for r in rows if r["traced"]]
            untraced = [r["wall"] for r in rows if not r["traced"]]
            if traced and untraced:
                self.layer["trace.overhead_s"] = tr.median(traced) - tr.median(untraced)

    def latency(self, samples: list[float]) -> None:
        self.layer["latency_p50_s"] = tr.quantile(samples, 0.5)
        self.layer["latency_p90_s"] = tr.quantile(samples, 0.9)
        log(f"  latency: n={len(samples)} p50={self.layer['latency_p50_s']:.3f}s "
            f"p90={self.layer['latency_p90_s']:.3f}s (highest percentile with "
            f">=10 samples beyond: p{tr.tail_percentile(len(samples))})")

    def scan(self, sf_dir: str, tables: list[str]) -> None:
        from bigdataentrytask_spark.catalog import load_table

        with self.tracer.span("catalog.scan") as s:
            for t in tables:
                load_table(self.spark, sf_dir, t).write.mode("overwrite").format("noop").save()
        self.layer["catalog.scan_s"] = s["dur"]

    # ----------------------------------------------------------- corpus
    def corpus_curation(self) -> None:
        import check
        import fixture

        a = self.args
        fx = fixture.materialize(a.cache, CORPUS_SF, a.seed)
        want = check.expected(fx, self.ops.ORACLES, CORPUS_OPS)
        registry = self.ops.REGISTRY

        def one_pass(collect=False):
            """Every operator once: the registry call, then a noop write.
            The cold pass collects each result instead, for the check
            after it.  Returns each call's seconds, the pass's build and
            run sums, and the collected frames."""
            per_op, build, run, frames = {}, 0.0, 0.0, {}
            for name in CORPUS_OPS:
                self.attempted += 1
                try:
                    with self.tracer.span(f"op.{name}") as o:
                        with self.tracer.span(f"op.{name}.build") as b:
                            df = registry[name](self.spark, fx)
                        with self.tracer.span(f"op.{name}.run") as r:
                            if collect:
                                frames[name] = df.toPandas()
                            else:
                                df.write.mode("overwrite").format("noop").save()
                except Exception as ex:  # counted, the run goes on
                    self.failed += 1
                    log(f"  {name} FAILED: {type(ex).__name__}: {ex}")
                    continue
                per_op[name] = o["dur"]
                build += b["dur"]
                run += r["dur"]
            log("    per operator (s): " + json.dumps({k: round(v, 3) for k, v in per_op.items()}))
            return per_op, build, run, frames

        with self.tracer.span("pass.cold"):
            (_, _, _, frames), wall, d, _ = self.metered(lambda: one_pass(collect=True))
        self.cold["first_pass_cpu_s"] = cpu_total(d)
        self.cold["first_pass_s"] = wall
        log(f"  cold pass: {wall:.3f}s, cpu {cpu_total(d):.2f}s of which jit {d['jit']:.2f}s")
        if a.cold_only:
            return
        # the output check, outside the timed region: each collected
        # result against its DuckDB oracle
        with self.tracer.span("check.corpus"):
            for name, pdf in frames.items():
                self.attempted += 1
                if not check.same(check.frame_canonical(pdf), want[name]):
                    self.failed += 1
                    log(f"  check {name}: MISMATCH")
        if self.args.trace:
            self.engine.collect()
        rows = self.warm_passes(one_pass, MIN_WARM_PASSES, a.seconds)
        measured = rows[-MEASURED_PASSES:]
        plain = [r for r in measured if not r["traced"]] or measured
        self.e2e["pass_cpu_s"] = tr.median([cpu_warm(r["cpu"]) for r in plain])
        self.layer["pass_s"] = tr.median([r["wall"] for r in plain])
        self.pass_layers(measured)
        # every operator call of every warm pass (2 x at least 5)
        self.latency([v for r in rows for v in r["out"][0].values()])
        if a.trace:
            self.scan(fx, CORPUS_TABLES)
        # the stream layers do not run in this workload
        self.layer.update(dict.fromkeys(STREAM_ONLY, 0))

    # ----------------------------------------------------------- stream
    def stream_ingest(self) -> None:
        import numpy as np
        import pyarrow.parquet as pq

        import check
        import fixture
        import stream as st
        from bigdataentrytask_spark import pipelines
        from bigdataentrytask_spark.catalog import load_table
        from bigdataentrytask_spark.sinks import KeyedUpsertSink
        from bigdataentrytask_spark.streaming import jobs

        a, spark = self.args, self.spark
        work = tempfile.mkdtemp(prefix="stream_", dir=os.getcwd())
        n_files = int(round(a.seconds * STREAM_FILES_PER_S))
        size = fixture.sizes(STREAM_SF)
        events = fixture.events_table(size["events"], size["users"])
        n_rows = (n_files + 1) * STREAM_ROWS_PER_FILE
        start = int(np.random.default_rng(a.seed).integers(0, events.num_rows - n_rows))
        staged, emitted = st.stage_files(events, start, n_files + 1, STREAM_ROWS_PER_FILE,
                                         os.path.join(work, "stage"))
        src = os.path.join(work, "src")
        os.makedirs(src)
        offline_in = os.path.join(work, "offline_in")
        os.makedirs(offline_in)
        pq.write_table(emitted, os.path.join(offline_in, "events.parquet"))
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

        upsert_s = [0.0]
        lock = threading.Lock()

        def timed(sink):
            def body(df, batch_id):
                with self.tracer.span("sink.upsert") as s:
                    sink.upsert_batch(df, batch_id)
                with lock:  # the four queries call back from their own threads
                    upsert_s[0] += s["dur"]
            return body

        plan = [  # the output modes of pipelines.realtime_topology
            ("buy_cnt_per_min", jobs.tumble_minute, ["window_start"], "append"),
            ("payment_user_list", jobs.user_totals, ["user_id"], "update"),
            ("payment_channels_list", jobs.channel_totals, ["channel"], "update"),
            ("cumulative_payment_uv_partials", jobs.daily_user_partials,
             ["date_str", "user_id"], "update"),
        ]
        sinks, queries = {}, []
        with self.tracer.span("stream.start"):
            for name, job, keys, mode in plan:
                sinks[name] = KeyedUpsertSink(keys)
                queries.append(
                    job(st.events_stream(spark, src, staged[0]))
                    .writeStream.outputMode(mode)
                    .foreachBatch(timed(sinks[name]))
                    .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_", dir=work))
                    .start())
        # the first file is consumed before the open loop starts, so the
        # queries' cold first batch is not part of any file's freshness;
        # it is this workload's cold pass
        def first_batch():
            os.rename(staged[0], os.path.join(src, os.path.basename(staged[0])))
            for q in queries:
                q.processAllAvailable()

        with self.tracer.span("pass.cold"):
            _, cold_wall, cold, a0 = self.metered(first_batch)
        self.cold["first_pass_cpu_s"] = cpu_total(cold)
        self.cold["first_pass_s"] = cold_wall
        log(f"  cold pass: {cold_wall:.3f}s, cpu {cpu_total(cold):.2f}s "
            f"of which jit {cold['jit']:.2f}s")
        if a.cold_only:
            for q in queries:
                q.stop()
                self.attempted += 1
                self.failed += q.exception() is not None
            return
        gen = st.OpenLoop(staged[1:], src, 1.0 / STREAM_FILES_PER_S)
        with self.tracer.span("stream.open_loop"):
            gen.start()
            gen.join()
        # files the slowest query had not read when the generator ended
        backlog = max(n_files + 1 - sum(p.numInputRows for p in q.recentProgress)
                      // STREAM_ROWS_PER_FILE for q in queries)
        with self.tracer.span("stream.drain") as dr:
            for q in queries:
                q.processAllAvailable()
        b0 = self.procs.sample()
        progress = [[json.loads(p.json) for p in q.recentProgress] for q in queries]
        for q in queries:
            q.stop()
            if q.exception() is not None:
                self.failed += 1
        d = tr.delta(a0, b0)
        # CPU per second of input at the fixed rate, loop and drain
        self.e2e["pass_cpu_s"] = cpu_warm(d) / a.seconds
        batches = [p for prog in progress for p in prog]
        self.attempted += len(batches)
        fresh = st.freshness(gen.due, STREAM_ROWS_PER_FILE, progress,
                             skip_rows=STREAM_ROWS_PER_FILE)
        self.failed += n_files - len(fresh)  # a file never covered
        log("  freshness by file: " + " ".join(f"{x:.1f}" for x in fresh))
        self.latency(fresh)
        trig = [p["durationMs"].get("triggerExecution", 0) for p in batches]
        self.layer["pass_s"] = tr.quantile(trig, 0.5) / 1000
        log(f"  stream: {n_files} files, {len(batches)} batches, median batch "
            f"{self.layer['pass_s']:.3f}s, backlog at end {backlog} files, drain "
            f"{dr['dur']:.2f}s, generator late by max {max(gen.lag):.4f}s, "
            f"cpu first batch {cpu_total(cold):.2f}s (of which jit {cold['jit']:.2f}s), "
            f"loop+drain {cpu_total(d):.2f}s (of which jit {d['jit']:.2f}s)")
        for k in ("addBatch", "queryPlanning", "latestOffset", "walCommit"):
            self.layer[f"stream.{k}_pct"] = 100 * sum(
                p["durationMs"].get(k, 0) for p in batches) / max(1, sum(trig))
        self.layer["stream.batches"] = len(batches)
        last_state = [s for prog in progress for s in prog[-1].get("stateOperators", [])]
        self.layer["stream.state_rows"] = sum(s["numRowsTotal"] for s in last_state)
        self.layer["stream.state_mb"] = sum(s["memoryUsedBytes"] for s in last_state) / 2**20
        self.layer["sink.upsert_pct"] = 100 * upsert_s[0] * 1000 / max(1, sum(trig))
        self.layer["sink.rows"] = sum(len(s.rows) for s in sinks.values())
        self.layer["gen.late_files"] = sum(lag > GEN_LATE_S for lag in gen.lag)
        self.layer["stream.backlog_files_end"] = backlog

        # checks: each update sink against the same job in batch over all
        # emitted events; the append sink against the windows the final
        # watermark closed
        batch_events = load_table(spark, offline_in, "events")
        with self.tracer.span("check.stream"):
            for name, job, keys, mode in plan:
                self.attempted += 1
                want = job(batch_events)
                if mode == "append":
                    wm = progress[0][-1]["eventTime"]["watermark"]
                    cutoff = wm.replace("T", " ")[:19]
                    # a window closes once its end (start + 1 min) <= watermark
                    want = want.where(
                        "to_timestamp(window_start) + INTERVAL 1 MINUTE <= "
                        f"to_timestamp('{cutoff}')")
                got = sinks[name].snapshot()
                cols = want.columns
                if not check.same(
                        check.canonical(cols, [[r[c] for c in cols] for r in got]),
                        check.spark_canonical(want)):
                    self.failed += 1
                    log(f"  check {name}: MISMATCH")

        # the offline path over every emitted event, checked against
        # DuckDB's hourly rollup
        rollup = check.expected(offline_in, self.ops.ORACLES, ["b1_hourly_uv"])["b1_hourly_uv"]

        def offline():
            self.attempted += 1
            out = tempfile.mkdtemp(prefix="offline_", dir=work)
            with self.tracer.span("op.offline_topology") as o:
                with self.tracer.span("op.offline_topology.build") as b:
                    df = pipelines.offline_topology(spark, offline_in, out)
                with self.tracer.span("op.offline_topology.run") as r:
                    df.write.mode("overwrite").format("noop").save()
            landed = sum(os.path.getsize(os.path.join(dp, f))
                         for dp, _, fs in os.walk(os.path.join(out, "events_landed"))
                         for f in fs if f.endswith(".parquet"))
            return {"offline_topology": o["dur"]}, b["dur"], r["dur"], df, landed

        if self.args.trace:
            self.engine.collect()
        with self.tracer.span("offline.cold"):
            (_, _, _, df, landed), wall, d, _ = self.metered(offline)
        log(f"  offline cold pass: {wall:.3f}s, cpu {cpu_total(d):.2f}s of which jit {d['jit']:.2f}s")
        self.attempted += 1
        if not check.same(check.spark_canonical(df), rollup):
            self.failed += 1
            log("  check offline rollup: MISMATCH")
        if a.trace:
            self.engine.collect()
            rows = self.warm_passes(offline, OFFLINE_WARM_PASSES, 0)
            self.pass_layers(rows)
            self.layer["landing.bytes"] = landed
            self.scan(offline_in, ["events"])

    # ------------------------------------------------------------ main
    def result(self) -> dict:
        kind = "per_layer" if self.args.trace else "end_to_end"
        values = self.layer if self.args.trace else self.e2e
        units = {m["name"]: m["unit"] for m in self.args.spec[kind]}
        missing = [n for n in units if n not in values]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
        }


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["corpus_curation", "stream_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--cache", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--spans", required=True)
    p.add_argument("--spec", required=True)
    p.add_argument("--cold-only", action="store_true")
    p.add_argument("--probe", help="figures written by a --cold-only process")
    args = p.parse_args(argv)
    with open(args.spec) as fh:
        args.spec = json.load(fh)
    run = Run(args)
    if not args.cold_only:  # before any other work of this process
        run.layer["host.probe_cpu_s"] = tr.host_probe_cpu_s()
        log(f"host probe: {run.layer['host.probe_cpu_s']:.4f} s CPU")
    t = time.perf_counter()
    run.setup()
    getattr(run, args.workload)()
    run.spark.stop()
    run.procs.close()
    if args.cold_only:
        with open(args.out, "w") as fh:
            json.dump({"cold": run.cold, "attempted": run.attempted,
                       "failed": run.failed}, fh)
        return 0
    with open(args.probe) as fh:
        run.cold_metrics(json.load(fh))
    log(f"workload {args.workload} seed {args.seed}: {time.perf_counter() - t:.1f}s, "
        f"attempted {run.attempted}, failed {run.failed}, "
        f"error_rate {run.failed / max(1, run.attempted):.4f}")
    for name in ("first_pass_s", "pass_s", "latency_p50_s", "latency_p90_s"):
        if name in run.layer:
            log(f"  wall {name:28s} {run.layer[name]:.6g} s")
    if args.trace:
        run.tracer.write(args.spans)
        spans = run.tracer.spans
        names = {s["id"]: s["name"] for s in spans}
        self_by_name: dict[str, float] = {}
        for sid, v in tr.self_times(spans).items():
            self_by_name[names[sid]] = self_by_name.get(names[sid], 0.0) + v
        log("self time by span (s): " + json.dumps(
            {k: round(v, 3) for k, v in sorted(self_by_name.items(), key=lambda kv: -kv[1])}))
    res = run.result()
    for n, m in res["metrics"].items():
        log(f"  {n:32s} {m['value']:.6g} {m['unit']}")
    with open(args.out, "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
