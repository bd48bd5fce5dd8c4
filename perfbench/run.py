"""Benchmark of the engine's query paths, run from the repository root:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 8 --trace 0

One run generates the workload's input tables from ``--seed`` (see
``datagen.py``), starts one client session in a fresh process
(``client.py``: fresh JVM, fresh warehouse, fresh Spark local dirs,
all under a scratch directory in ``perfbench/.work`` that is removed
at exit), and prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics named in
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones.  A JSON line
of box diagnostics (nproc, MemTotal, loadavg, steal seconds, JVM heap
and RSS, per-pass times) is printed just before it.  Spark's own logs
go to stderr.

``correct`` is false when a query raised or disagreed with its DuckDB
oracle, or when a self-check failed: a metric name outside
``[A-Za-z0-9_.-]+``, a metric set that differs from the one declared in
``BENCHMARK.json``, or (traced runs) stage, task or shuffle counts that
do not repeat exactly across two passes.

Exits non-zero without printing a result when the engine is not present
next to this directory or the session does not finish in time.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import datagen
import probes
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
# a run must end within 180 s; leave room for data and clean-up
SESSION_TIMEOUT_S = 160


def _stop_group(pgid: int) -> None:
    """Stop every process left in the session's process group (the JVM
    and its Python workers) and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        deadline = time.monotonic() + wait_s
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_session(args, work: str) -> dict:
    data = os.path.join(work, "data")
    datagen.generate(data, args.seed)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([ROOT, os.path.join(ROOT, "tests"), HERE]),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM (launcher and driver) keeps its temp files in the
        # scratch directory and writes no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "client.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--data", data,
        "--warehouse", os.path.join(work, "warehouse"),
        "--out", out,
    ]
    proc = subprocess.Popen(
        cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=SESSION_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _stop_group(proc.pid)
        proc.wait()
    if code != 0:
        raise RuntimeError(
            "session timed out" if code is None else f"session exited with {code}"
        )
    with open(out) as fh:
        return json.load(fh)


def declared_units(section: str) -> dict[str, str]:
    """name -> unit of the metrics ``BENCHMARK.json`` declares in
    ``section``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    engine = os.path.join(ROOT, "simplex_mapreduce_spark", "__init__.py")
    oracle_utils = os.path.join(ROOT, "tests", "oracle_utils.py")
    if not (os.path.isfile(engine) and os.path.isfile(oracle_utils)):
        print(f"engine not found next to {HERE}", file=sys.stderr)
        return 2

    box = probes.box()
    steal0 = probes.steal_s()
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(
        prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(HERE, ".work")
    )
    try:
        res = run_session(args, work)
    except (RuntimeError, OSError, ValueError) as exc:
        print(f"benchmark run failed: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    diagnostics = dict(res["diagnostics"], **box)
    diagnostics["steal_s"] = probes.steal_s() - steal0
    if args.trace:
        trace_file = os.path.join(
            HERE, ".work", f"trace-{args.workload}-{args.seed}.json"
        )
        with open(trace_file, "w") as fh:
            json.dump(res["spans"], fh)
        diagnostics["trace_file"] = os.path.relpath(trace_file, ROOT)
    problems = list(res["failures"]) + list(res["self_check"])
    section = "per_layer" if args.trace else "end_to_end"
    units = declared_units(section)
    values = res[section]
    metrics = {k: {"value": v, "unit": units.get(k, "")} for k, v in values.items()}
    bad = [k for k in metrics if not NAME_RE.fullmatch(k)]
    if bad:
        problems.append(f"metric names outside [A-Za-z0-9_.-]+: {bad}")
    if set(metrics) != set(units):
        problems.append(
            f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}"
        )
    for line in problems:
        print(f"check failed: {line}", file=sys.stderr)
    print(json.dumps({"diagnostics": diagnostics}))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0 and not problems,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
