"""Benchmark entry point.

    python3 perfbench/run.py --workload <corpus_curation|stream_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Each run gets a fresh worker process
(worker.py) with the run environment below, in a temporary directory
inside the checkout that is removed afterwards.  The worker's result is
printed as the last line of stdout: {"correct", "attempted", "failed",
"metrics"}; progress, a per-layer summary and the error rate go to
stderr.  Generated fixtures and their expected results are cached per
seed under .perfbench/cache; with --trace 1 the spans are kept under
.perfbench/traces.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
# every worker process of one run must end by then (the launcher then
# stops what is left, which takes at most another 20 s)
DEADLINE_S = 150


def run_env(workdir: str) -> dict[str, str]:
    """The run environment (documented in perfbench/README.md)."""
    cpus = os.cpu_count() or 1
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env = dict(os.environ)
    env.update({
        # Python workers import the package by name
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": str(cpus),
        # the package default (32g) can exceed physical memory
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(ram_gb // 4)))}g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(workdir, "warehouse"),
        "TMPDIR": workdir,
        # Spark's local dirs and the JVM's temp dir stay in the run dir
        "SPARK_LOCAL_DIRS": workdir,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={workdir}",
        # Python set and dict order, and any order-dependent work in the
        # kernels, is then the same in every run
        "PYTHONHASHSEED": "0",
    })
    return env


def _pgroup_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            fields = raw[raw.rfind(")") + 2:].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def stop_group(pgid: int, grace: float) -> None:
    """Give the worker's process group ``grace`` seconds to exit (the JVM
    runs its shutdown hooks after the worker returns), then terminate
    what is left, and wait until every process of the group has ended."""
    for sig, wait in ((None, grace), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            if sig is not None:
                os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait
        while time.time() < end:
            if not _pgroup_alive(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "bigdataentrytask_spark", "__init__.py")):
        print("perfbench: bigdataentrytask_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(STATE, "cache"), exist_ok=True)
    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="run-", dir=STATE)
    out = os.path.join(workdir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cache", os.path.join(STATE, "cache"),
        "--spans", os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.jsonl"),
        "--spec", spec_path,
    ]
    # a process that makes only the set-up and the cold pass, then the
    # measuring worker: the cold figures are medians over two JVM
    # launches (a third process would cost 15-30 s more per run).  The
    # first must end, JVM included, before the second starts.
    probe = os.path.join(workdir, "cold.json")
    deadline = time.monotonic() + DEADLINE_S

    def interrupted(signum, frame):
        raise KeyboardInterrupt

    signal.signal(signal.SIGTERM, interrupted)
    try:
        code = run_child(cmd + ["--cold-only", "--out", probe], workdir, deadline)
        if code == 0:
            code = run_child(cmd + ["--out", out, "--probe", probe], workdir, deadline)
        if code != 0 or not os.path.exists(out):
            print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(out) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run_child(cmd: list[str], workdir: str, deadline: float) -> int:
    """Run one worker process in its own process group; return its exit
    code once every process of the group has ended (-1 if it ran past
    ``deadline`` or the launcher was interrupted)."""
    proc = subprocess.Popen(cmd, cwd=workdir, env=run_env(workdir),
                            stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(0.0, deadline - time.monotonic()))
        grace = 20.0  # the JVM runs its shutdown hooks after the worker returns
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {DEADLINE_S}s", file=sys.stderr)
        code, grace = -1, 0.0
    except KeyboardInterrupt:
        code, grace = -1, 0.0
    stop_group(proc.pid, grace)
    proc.wait()
    return code


if __name__ == "__main__":
    raise SystemExit(main())
