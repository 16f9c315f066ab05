"""stream_ingest's input side: staged files, the open-loop generator,
the file-source stream, and freshness from progress events.

A generator thread renames pre-written parquet files of fixture events
into the source directory on a fixed schedule (event-time order, the
fixture's physical schema).  Freshness of a file is the time from when
it was due to the end of the first micro-batch, in every one of the
four queries, whose cumulative ``numInputRows`` covers it.  Batch end
times come from each progress event's own ``timestamp`` plus
``durationMs.triggerExecution``, never from when Python received it.
"""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq


def epoch_s(ts: str) -> float:
    """Epoch seconds of a progress timestamp ("2026-01-01T00:00:00.123Z")."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batch_ends(progress: list[dict]) -> list[tuple[float, int]]:
    """(end epoch seconds, cumulative input rows) per micro-batch."""
    out, cum = [], 0
    for p in sorted(progress, key=lambda p: p["batchId"]):
        cum += int(p.get("numInputRows", 0))
        end = epoch_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000
        out.append((end, cum))
    return out


def freshness(due: list[float], rows_per_file: int,
              per_query: list[list[dict]], skip_rows: int = 0) -> list[float]:
    """Per file: latest over queries of the first covering batch end,
    minus the file's due time.  ``skip_rows`` were read before the first
    due file.  A file no batch covers is left out."""
    ends = [batch_ends(p) for p in per_query]
    out = []
    for i, d in enumerate(due):
        need = skip_rows + (i + 1) * rows_per_file
        done = []
        for q in ends:
            hit = next((end for end, cum in q if cum >= need), None)
            if hit is None:
                break
            done.append(hit)
        if len(done) == len(ends):
            out.append(max(done) - d)
    return out


class OpenLoop:
    """Renames staged files into ``src`` every ``interval`` seconds."""

    def __init__(self, staged: list[str], src: str, interval: float):
        self.staged, self.src, self.interval = staged, src, interval
        self.due: list[float] = []
        self.lag: list[float] = []
        self.thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self.t0 = time.time() + self.interval
        self.thread.start()

    def _run(self) -> None:
        for i, path in enumerate(self.staged):
            due = self.t0 + i * self.interval
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(path, os.path.join(self.src, os.path.basename(path)))
            self.due.append(due)
            self.lag.append(time.time() - due)

    def join(self) -> None:
        self.thread.join()


def stage_files(events: pa.Table, start: int, n_files: int, rows: int,
                stage_dir: str) -> tuple[list[str], pa.Table]:
    """Write ``n_files`` slices of ``rows`` events from ``start`` as
    ``<stage>/fNNNNN.parquet``; returns the paths and the emitted rows."""
    os.makedirs(stage_dir, exist_ok=True)
    emitted = events.slice(start, n_files * rows)
    staged = []
    for i in range(n_files):
        path = os.path.join(stage_dir, f"f{i:05d}.parquet")
        pq.write_table(emitted.slice(i * rows, rows), path)
        staged.append(path)
    return staged, emitted


def events_stream(spark, src: str, schema_file: str):
    """The file-source events stream of ``streaming.replay``
    (footer-sniffed schema, canonical event time, the reference's
    watermark) over every file in ``src``."""
    from bigdataentrytask_spark.catalog import events_physical_schema, with_event_time
    from bigdataentrytask_spark.session import ensure_session_confs
    from bigdataentrytask_spark.streaming.replay import WATERMARK

    ensure_session_confs(spark)
    raw = spark.readStream.schema(events_physical_schema(schema_file)).parquet(src)
    return with_event_time(raw).withWatermark("ts", WATERMARK)
