"""Seeded end-to-end benchmark for alphastats_spark.

    python3 perfbench/run.py --workload tearsheet --seed 1 --seconds 10 --trace 0

One process, one closed-loop client and one ``local[N]`` Spark session
(N = usable cores minus one, at most 4). Set-up starts the session, generates the
workload's inputs from ``--seed``, writes them under ``.perfbench_work/``
in the current directory, and runs one untimed warm-up of the main
operation. The client then repeats the workload's cycle of operations until
``--seconds`` have passed, always finishing the cycle it is in, and checks
every output against a NumPy reference. Scratch files are removed at exit;
a traced run leaves its spans, with their costs, in
``.perfbench_work/spans-<workload>-<seed>.jsonl``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` turns on Spark's event log and spans and
reports per-layer costs instead (see README.md). The line before it names
the same figures the way the workload's users would.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Every per-layer span, named after the public function it wraps.
SPANS = (
    "sources.read",
    "reports.metrics",
    "stats.sharpe",
    "stats.to_drawdowns",
    "stats.greeks",
    "stats.longest_drawdown_days",
    "stats.best_month",
    "long_frame.metrics_by_key",
    "long_frame.benchmark_metrics_by_key",
    "dedup.deduplicate",
    "dedup.lsh_candidate_pairs",
    "dedup.lsh_verified_pairs",
    "dedup.duplicate_clusters",
    "dedup.admit_against_index",
    "dedup.write_dedup_index",
)
# Spans that have child spans; for the others self time equals wall time.
PARENT_SPANS = ("dedup.deduplicate",)
# Library functions that other library functions call through their module,
# traced as child spans: (module path, attribute, span name).
NESTED = (
    ("alphastats_spark.functions.dedup", "lsh_verified_pairs", "dedup.lsh_verified_pairs"),
    ("alphastats_spark.functions.dedup", "duplicate_clusters", "dedup.duplicate_clusters"),
)
UNITS = {"wall_s": "s", "self_s": "s", "driver_s": "s", "executor_cpu_s": "s",
         "jobs": "count", "stages": "count", "tasks": "count",
         "shuffle_bytes": "bytes", "spill_bytes": "bytes"}

WORKLOADS = ("tearsheet", "corpus")

END_TO_END = {
    "setup_s": "s",
    "main_op_p50_s": "s",
    "side_ops_p50_s": "s",
    "ok_ratio": "ok/attempted",
    "jvm_peak_rss_mb": "MB",
}

# No cycle after the first starts later than this after process start, so
# that on a slow machine a run measures less instead of running longer.
LAST_CYCLE_START_S = 50.0


def per_layer_units() -> dict[str, str]:
    out = {}
    for span in SPANS:
        for field, unit in UNITS.items():
            if field != "self_s" or span in PARENT_SPANS:
                out[f"{span}.{field}"] = unit
    out["dedup.verified_per_candidate"] = "ratio"
    out["ordered.pass_caches_live"] = "count"
    out["trace.main_op_p50_s"] = "s"
    out["trace.side_ops_p50_s"] = "s"
    return out


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str, trace: bool):
    from alphastats_spark.session import build_session

    # One core stays free for the driver: planning, the JVM's compiler and
    # GC threads and this client. With every core running tasks, the
    # run-to-run spread of the corpus latencies doubled on a 4-core VM.
    cores = max(1, min(4, len(os.sched_getaffinity(0)) - 1))
    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={jtmp}",
    }
    # the JVM that spark-submit starts first to build the driver's command
    # line: keep its files inside the scratch directory too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp}"
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
        })
    spark = build_session(app_name="perfbench", master=f"local[{cores}]", cores=cores,
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process(spark) -> subprocess.Popen:
    return spark.sparkContext._gateway.proc


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit; the JVM's Python workers
    exit with it."""
    proc = jvm_process(spark)
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Client:
    """The closed-loop client: runs one operation at a time, times it, then
    releases what it cached and checks its output."""

    def __init__(self, spark, tracer):
        from alphastats_spark.operators import ordered

        self.spark, self.tracer, self.ordered = spark, tracer, ordered
        self.latency = {"main": [], "side": []}
        self.attempted = self.failed = 0
        self.caches_live = 0

    def execute(self, op, timed: bool = True) -> float | None:
        """Latency of ``op`` in seconds, or None if it raised."""
        ordered = self.ordered
        if op.prepare:
            op.prepare()
        self.attempted += 1
        self.tracer.op = self.attempted
        try:
            # the caller's release duty for pass caches (ordered.pass_cache_scope)
            with ordered.pass_cache_scope():
                t0 = time.perf_counter()
                out = op.run(self.tracer)
                dt = time.perf_counter() - t0
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None
        finally:
            self.caches_live = max(self.caches_live, ordered.pass_cache_mark())
            # long_frame.metrics_by_key persists its enrichment for the
            # caller's later actions; dropping it is the caller's job
            self.spark.catalog.clearCache()
        errors = op.check(out)
        if errors:
            self.failed += 1
            print(f"{op.label}: {len(errors)} wrong outputs, first: {errors[0]}", file=sys.stderr)
        print(f"{op.label}: {dt:.3f} s{'' if timed else ' (warm-up)'}", file=sys.stderr)
        if timed:
            self.latency[op.kind].append(dt)
        return dt


def run(args, work: str, t_process: float) -> tuple[dict, str]:
    import workloads
    from spans import NullTracer, Tracer, event_log_files, parse_event_log, per_name, span_costs

    tracer = Tracer() if args.trace else NullTracer()
    t0 = time.perf_counter()
    spark = start_session(work, bool(args.trace))
    try:
        w = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        w.setup()
        client = Client(spark, NullTracer())
        # warm-up: the main operation once, untimed. Warming every operation
        # would add about 20 s to each tearsheet run; runs are kept short
        # so that many seeds fit in a measurement session.
        client.execute(w.cycle()[0], timed=False)
        setup_s = time.perf_counter() - t0
        client.tracer = tracer

        restore = []
        if args.trace:
            import importlib

            for mod, attr, name in NESTED:
                restore.append(tracer.wrap(importlib.import_module(mod), attr, name))
        probe = {}
        deadline = time.perf_counter() + args.seconds
        side_per_cycle = []
        while True:
            side = 0.0
            for op in w.cycle():
                dt = client.execute(op)
                if op.kind == "side" and dt is not None:
                    side += dt
            side_per_cycle.append(side)
            now = time.perf_counter()
            if now >= deadline or now - t_process >= LAST_CYCLE_START_S:
                break
        if args.trace and hasattr(w, "probe"):
            with client.ordered.pass_cache_scope():
                probe = w.probe(tracer)
        for undo in restore:
            undo()
        rss = peak_rss_mb(jvm_process(spark).pid)
    finally:
        stop_session(spark)

    main_p50 = statistics.median(client.latency["main"])
    side_p50 = statistics.median(side_per_cycle)
    if args.trace:
        log = parse_event_log(event_log_files(os.path.join(work, "events")))
        each = span_costs(tracer.spans, log)
        tracer.dump(os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl"), each)
        costs = per_name(tracer.spans, each, SPANS)
        values = {f"{s}.{f}": costs[s][f] for s in SPANS for f in UNITS}
        values.update({
            "dedup.verified_per_candidate": probe.get("dedup.verified_per_candidate", 0.0),
            "ordered.pass_caches_live": client.caches_live,
            "trace.main_op_p50_s": main_p50,
            "trace.side_ops_p50_s": side_p50,
        })
        units = per_layer_units()
    else:
        values = {
            "setup_s": setup_s,
            "main_op_p50_s": main_p50,
            "side_ops_p50_s": side_p50,
            "ok_ratio": 1 - client.failed / client.attempted,
            "jvm_peak_rss_mb": rss,
        }
        units = END_TO_END
    result = {
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    return result, summary(args.workload, w, client, setup_s, rss, main_p50, side_p50)


def summary(workload, w, client, setup_s, rss, main_p50, side_p50) -> str:
    """The end-to-end figures under the names their users know them by."""
    if workload == "tearsheet":
        named = {"report_p50_s": (main_p50, "s"),
                 "call_p50_s": (statistics.median(client.latency["side"]), "s")}
    else:
        named = {"dedup_docs_per_s": (w.n_docs / main_p50, "docs/s"),
                 "ingest_batch_p50_s": (side_p50, "s")}
    named.update({
        "setup_s": (setup_s, "s"),
        "fail_ratio": (client.failed / client.attempted, "failed/attempted"),
        "jvm_peak_rss_mb": (rss, "MB"),
    })
    samples = f"{len(client.latency['main'])}+{len(client.latency['side'])} timed ops"
    return f"{workload} ({samples}): " + ", ".join(
        f"{k}={v:.4g} {u}" for k, (v, u) in named.items()
    )


def main(argv=None) -> int:
    t_process = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "alphastats_spark", "__init__.py")):
        print(f"alphastats_spark not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Python and its Spark workers create temporary files under TMPDIR
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result, line = run(args, work, t_process)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # holds span files or another run's scratch
            pass
    print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
