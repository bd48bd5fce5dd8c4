"""One benchmark session, run by ``run.py`` in a fresh process.

Builds the engine's session, warms the table scans, ingests the stored
tables the workload reads, then runs closed-loop passes over the
workload's queries from one client:

1. a cold pass: the first execution of each query in the warm session;
2. untimed warm-up passes, while per-pass time is still falling fast;
   the last of them collects every query's output and checks it
   against its DuckDB oracle;
3. measured passes for ``--seconds`` (at least ``MIN_PASSES``); the
   fastest of them gives ``steady_pass_s`` and ``cpu_s``.

Each query is timed from outside in two parts: construction
(``registry.QUERIES[name](spark, data)``, which includes the eager jobs
operators run while building the frame) and action (the ``noop`` write
that executes the frame, or its collection in the checked pass).  The
seed sets the query order of each pass.

With ``--trace 1`` every construction and action runs in its own Spark
job group, and its span carries that group's status-store counters and
the ``/proc`` CPU of the process tree.  Measured passes then alternate
traced and untraced, so the tracing overhead is measured in one JVM.

Writes one JSON document to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import time
import traceback

T_START = time.perf_counter()  # before pyspark and the engine are imported

import probes  # noqa: E402
from workloads import QUERY_METRICS, WORKLOADS  # noqa: E402

DRIVER_HEAP = "2g"
MIN_PASSES = 4
# counters that must repeat exactly from one steady pass to the next
FIXED_COUNTERS = ("stages", "tasks", "shuffle_write_bytes")


class Tracer:
    """Spans kept in memory: run -> setup steps -> pass -> query ->
    construct / action.  Times are always recorded; job groups,
    status-store counters and CPU splits only while ``enabled``."""

    def __init__(self, jvm_pid: int, store: probes.StatusStore | None):
        self.jvm_pid = jvm_pid
        self.store = store
        self.enabled = False
        self.spans: list[dict] = []

    def cpu(self) -> dict[str, float]:
        return probes.tree_cpu(os.getpid(), self.jvm_pid)

    def begin(self, name: str, parent: dict | None, group: str | None = None):
        span = {"id": len(self.spans), "name": name}
        span["parent"] = parent["id"] if parent else None
        self.spans.append(span)
        if self.enabled and group:
            span["group"] = group
            span["cpu"] = self.cpu()
            self.store.set_group(group)
        span["start"] = time.perf_counter() - T_START
        return span

    def end(self, span: dict) -> float:
        span["end"] = time.perf_counter() - T_START
        if "group" in span:
            self.store.clear_group()
            now = self.cpu()
            span["cpu"] = {k: now[k] - span["cpu"][k] for k in now}
            span.update(self.store.counters(span["group"]))
        return span["end"] - span["start"]


def run_query(spark, data, tracer, name, label, parent, collect):
    """Construct and execute one query; returns its record and, when
    ``collect`` is set, its output as pandas (``None`` when it raised)."""
    from simplex_mapreduce_spark import registry

    q = tracer.begin(name, parent)
    rec = {"ok": False}
    out = None
    try:
        rec["construct"] = tracer.begin("construct", q, f"{label}/{name}/c")
        try:
            df = registry.QUERIES[name](spark, data)
        finally:
            rec["construct_s"] = tracer.end(rec["construct"])
        rec["action"] = tracer.begin("action", q, f"{label}/{name}/a")
        try:
            if collect:
                out = df.toPandas()
            else:
                df.write.mode("overwrite").format("noop").save()
        finally:
            rec["action_s"] = tracer.end(rec["action"])
        rec["ok"] = True
    except Exception:  # noqa: BLE001 — a failing query is counted, not fatal
        traceback.print_exc()
        out = None
    tracer.end(q)
    return rec, out


def run_pass(spark, data, tracer, names, label, parent, collect=False):
    span = tracer.begin(label, parent)
    cpu0 = tracer.cpu()["total"]
    steal0 = probes.steal_s()
    out = {"label": label, "traced": tracer.enabled, "q": {}}
    outputs = {}
    for name in names:
        out["q"][name], outputs[name] = run_query(
            spark, data, tracer, name, label, span, collect
        )
    out["wall_s"] = tracer.end(span)
    out["cpu_s"] = tracer.cpu()["total"] - cpu0
    out["steal_s"] = probes.steal_s() - steal0
    return out, outputs


def check(outputs: dict, data: str) -> list[str]:
    """Compare each collected output with its DuckDB oracle, as the
    repo's oracle tests do; returns one line per failure."""
    import duckdb
    from oracle_utils import compare_frames
    from simplex_mapreduce_spark import registry
    from simplex_mapreduce_spark.sources.tables import TABLES

    failures = []
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for name, pdf in outputs.items():
            if pdf is None:
                failures.append(f"{name}: raised in the checked pass")
                continue
            try:
                compare_frames(pdf, con.sql(registry.ORACLES[name]).df(), name)
            except Exception as exc:  # noqa: BLE001 — mismatch or engine error
                failures.append(f"{name}: {exc}"[:2000])
    finally:
        con.close()
    return failures


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _both(rec: dict, counter: str, key: str | None = None) -> float:
    """A traced query's counter (or ``cpu[key]``) summed over its
    construction and action; a part that never ran adds 0."""
    total = 0
    for part in ("construct", "action"):
        if key:
            total += rec.get(part, {}).get(counter, {}).get(key, 0)
        else:
            total += rec.get(part, {}).get(counter, 0)
    return total


def per_layer(queries, setup, cold, traced, untraced) -> dict[str, float]:
    """Per-layer metrics; per-pass figures are medians over the traced
    measured passes.  Queries outside the workload read 0."""
    m = dict(setup, cold_pass_s=cold["wall_s"])

    def med(fn):
        return _median([fn(p) for p in traced])

    def pass_sum(p, fn):
        return sum(fn(r) for r in p["q"].values())

    for name in QUERY_METRICS:
        ran = name in queries
        for key in ("construct_s", "action_s"):
            m[f"{name}.{key}"] = med(lambda p: p["q"][name].get(key, 0.0)) if ran else 0.0
        m[f"{name}.cold_action_s"] = cold["q"][name].get("action_s", 0.0) if ran else 0.0
        for c in ("stages", "exec_cpu_s", "shuffle_write_bytes"):
            m[f"{name}.{c}"] = med(lambda p: _both(p["q"][name], c)) if ran else 0
    for c in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{c}"] = med(lambda p: pass_sum(p, lambda r: _both(r, c)))
    for c, key in (("exec_cpu_s", "cpu_s"), ("exec_run_s", "run_s"), ("gc_s", "gc_s")):
        m[f"exec.{key}"] = med(lambda p: pass_sum(p, lambda r: _both(r, c)))
    m["python.cpu_s"] = med(lambda p: pass_sum(p, lambda r: _both(r, "cpu", "python")))
    for key in ("construct_s", "action_s"):
        m[f"driver.{key}"] = med(lambda p: pass_sum(p, lambda r: r.get(key, 0.0)))
    # fastest pass, as for the untraced steady_pass_s
    m["trace.steady_pass_s"] = min(p["wall_s"] for p in traced)
    m["trace.overhead_s"] = m["trace.steady_pass_s"] - min(
        p["wall_s"] for p in untraced
    )
    return m


def counters_repeat(traced: list[dict]) -> list[str]:
    """Stage, task and shuffle counts of the last two traced passes must
    agree query by query; returns one line per disagreement."""
    if len(traced) < 2:
        return ["fewer than two traced passes"]
    a, b = traced[-2]["q"], traced[-1]["q"]
    out = []
    for name in a:
        for c in FIXED_COUNTERS:
            x, y = _both(a[name], c), _both(b[name], c)
            if x != y:
                out.append(f"{name}.{c}: {x} then {y}")
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    data = args.data

    from simplex_mapreduce_spark import get_spark, registry

    registry.load_all()
    missing = [q for q in wl.queries if q not in registry.ORACLES]
    if missing:
        raise SystemExit(f"workload queries missing from the registry or "
                         f"without an oracle: {missing}")

    setup: dict[str, float] = {}
    spark = get_spark(
        f"perfbench-{args.workload}",
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.sql.warehouse.dir": args.warehouse,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    tracer = Tracer(gateway.proc.pid, probes.StatusStore(spark) if args.trace else None)
    tracer.enabled = bool(args.trace)
    # both spans open at process start: importing the engine is set-up
    run = tracer.begin("run", None)
    start = tracer.begin("session.start", run)
    run["start"] = start["start"] = 0.0
    setup["session.start_s"] = tracer.end(start)

    from simplex_mapreduce_spark.sources.tables import TABLES

    scan = tracer.begin("sources.warm_scan", run, "setup/warm_scan")
    for name in TABLES:
        spark.read.parquet(f"{data}/{name}.parquet").count()
    setup["sources.warm_scan_s"] = tracer.end(scan)
    setup["dedup.ingest_s"] = 0.0
    setup["dedup.ingest_stages"] = 0
    setup["dedup.ingest_shuffle_bytes"] = 0
    if wl.ingest:
        from simplex_mapreduce_spark.operators.dedup import ensure_dedup_ingest

        ingest = tracer.begin("dedup.ingest", run, "setup/ingest")
        ensure_dedup_ingest(spark, data)
        setup["dedup.ingest_s"] = tracer.end(ingest)
        setup["dedup.ingest_stages"] = ingest.get("stages", 0)
        setup["dedup.ingest_shuffle_bytes"] = ingest.get("shuffle_write_bytes", 0)
    setup_s = time.perf_counter() - T_START

    def order(i):
        return random.Random(f"{args.seed}/{i}").sample(wl.queries, len(wl.queries))

    attempted = failed = 0
    failures: list[str] = []

    def do_pass(i, label, collect=False):
        nonlocal attempted, failed, failures
        p, outputs = run_pass(spark, data, tracer, order(i), label, run, collect)
        attempted += len(p["q"])
        failed += sum(not r["ok"] for r in p["q"].values())
        if collect:
            failures = check(outputs, data)
            attempted += len(outputs)
            failed += len(failures)
        return p

    # the cold pass runs untraced: its wall time is a per-layer metric
    tracer.enabled = False
    cold = do_pass(0, "cold")
    # the last warm-up pass is the checked one, so the check costs no
    # extra pass
    warmup = [
        do_pass(i, f"warmup{i}", collect=i == wl.warmup_passes)
        for i in range(1, wl.warmup_passes + 1)
    ]
    measured = []
    t_measure = time.perf_counter()
    i = wl.warmup_passes + 1
    while (
        time.perf_counter() - t_measure < args.seconds
        or len(measured) < MIN_PASSES + args.trace
    ):
        # traced runs alternate traced and untraced passes
        tracer.enabled = bool(args.trace) and len(measured) % 2 == 0
        measured.append(do_pass(i, f"pass{i}"))
        i += 1
    tracer.enabled = False
    traced = [p for p in measured if p["traced"]]
    untraced = [p for p in measured if not p["traced"]]

    self_check = counters_repeat(traced) if args.trace else []

    store = probes.StatusStore(spark)
    heap = store.heap_live_mb()
    rss = probes.rss_mb(gateway.proc.pid)
    tracer.end(run)

    result = {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "self_check": self_check,
        "end_to_end": {
            "setup_s": setup_s,
            # the fastest pass: neighbours' load only ever slows a pass
            # down, and the last warm-up gains often land in the
            # measured window
            "steady_pass_s": min(p["wall_s"] for p in untraced),
            "cpu_s": min(p["cpu_s"] for p in untraced),
            "heap_live_mb": heap,
        },
        "diagnostics": {
            "driver_heap": DRIVER_HEAP,
            "jvm_rss_mb": rss,
            "setup": setup,
            "warmup_pass_s": [p["wall_s"] for p in warmup],
            "measured_pass_s": [p["wall_s"] for p in measured],
            "measured_cpu_s": [p["cpu_s"] for p in measured],
            "measured_steal_s": [p["steal_s"] for p in measured],
            "measured_query_s": {
                name: [p["q"][name].get("construct_s", 0.0)
                       + p["q"][name].get("action_s", 0.0) for p in measured]
                for name in wl.queries
            },
        },
    }
    if args.trace:
        result["per_layer"] = per_layer(wl.queries, setup, cold, traced, untraced)
        result["spans"] = tracer.spans
    with open(args.out, "w") as fh:
        json.dump(result, fh)

    spark.stop()
    # the JVM exits when its stdin closes; wait so no process outlives us
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


if __name__ == "__main__":
    main()
