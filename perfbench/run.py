"""Benchmark of the replication engine and its analytics queries.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload oplog_catchup --seed 1 --seconds 15 --trace 0

Workloads: ``oplog_catchup`` (replication.py) and ``analytics_mix``
(analytics.py). Inputs come from ``--seed`` only. The run sets up (Spark
session, DDL, one untimed warm-up cycle), then repeats the workload's cycle
until ``--seconds`` have been measured, checks every cycle's output against the
generator's model or the DuckDB oracle, and prints one JSON object as the
last line of standard output. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` is a separate run that wraps the engine's public calls in
spans, turns on Spark's event log, and reports the per-layer metrics.

Everything the run writes goes to a fresh directory under
``.perfbench_runs/`` in the checkout, removed at the end; the span records
of a traced run are kept in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, CHECKOUT)

import host  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ("oplog_catchup", "analytics_mix")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "work_per_s": "1/s",
    "op_p50_ms": "ms",
    "cycle_s": "s",
}


def _per_layer_units() -> dict[str, str]:
    from analytics import MIX

    units = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "opslog.decode_entries_per_s": "1/s",
        "opslog.ops_per_entry": "ratio",
        "cdc.merge_ops_per_s": "1/s",
        "cdc.actions_per_op": "ratio",
        "pipeline.batch_ms_p50": "ms",
        "pipeline.spark_overhead_ms_p50": "ms",
        "pipeline.queue_ms_p50": "ms",
        "pipeline.jobs_per_batch": "count",
        "pipeline.stages_per_batch": "count",
        "jdbc.upsert_ms_p50": "ms",
        "jdbc.patch_ms_p50": "ms",
        "jdbc.delete_ms_p50": "ms",
        "jdbc.txns_per_batch": "count",
        "jdbc.rows_written": "count",
        "engine.reconcile_ddl_s": "s",
        "engine.snapshot_s": "s",
        "engine.sink_ids_s": "s",
        "engine.orphan_delete_s": "s",
        "engine.orphans_deleted": "count",
        "snapshots.merge_ms_p50": "ms",
        "snapshots.bytes_written_per_live_byte": "ratio",
        "snapshots.files_live": "count",
        "snapshots.read_s": "s",
        "tail.lag_p50_ms": "ms",
        "tail.lag_p90_ms": "ms",
        "tail.gen_late_ms_max": "ms",
    }
    for q in MIX:
        units[f"q.{q}.build_ms"] = "ms"
        units[f"q.{q}.exec_ms"] = "ms"
        units[f"q.{q}.jobs"] = "count"
        units[f"q.{q}.shuffle_mb"] = "MB"
    units.update({
        "analytics.blocks_left": "count",
        "spark.executor_run_s": "s",
        "spark.gc_s": "s",
        "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB",
        "baseline.sequential_entries_per_s": "1/s",
        "host.calib_ms": "ms",
        "host.steal_pct": "%",
    })
    units.update({f"traced.{k}": u for k, u in END_TO_END.items()})
    return units


class Context:
    """What a workload needs from the run: seed, root, session, tracer."""

    def __init__(self, args, root: host.RunRoot) -> None:
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.root = root
        self.run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        self.tracer = spans.Tracer(self.run_id, enabled=self.trace)
        self.spark = None


def _workload(name: str, ctx: Context):
    if name == "analytics_mix":
        from analytics import Analytics

        return Analytics(ctx)
    from replication import CatchUp

    return CatchUp(ctx)


def start_spark(root: host.RunRoot, trace: bool):
    """The engine's own session; only deployment paths (and, when tracing,
    the event log) are configured here."""
    from momyre_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={root.sub('tmp')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(root.sub("events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": root.sub("events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while len(host.process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


def run(args, root: host.RunRoot) -> int:
    ctx = Context(args, root)
    workload = _workload(args.workload, ctx)
    workload.generate()
    steal0 = host.cpu_times()
    calib = host.calib_ms()

    t0 = time.perf_counter()
    spark = ctx.spark = start_spark(root, ctx.trace)
    try:
        ctx.tracer.bind(spark)
        session_s = time.perf_counter() - t0
        workload.setup()
        # the benchmark's own output checks are not set-up work
        setup_s = time.perf_counter() - t0 - workload.check_s

        ctx.tracer.phase = "timed"
        t1 = time.perf_counter()
        workload.measure(args.seconds)
        timed_s = time.perf_counter() - t1
        ctx.tracer.phase = "after"

        e2e = workload.end_to_end()
        e2e["setup_s"] = setup_s
        if ctx.trace:
            workload.probe()
        rss = host.peak_rss_by_process()
        e2e["peak_rss_mb"] = sum(rss.values())
    finally:
        ctx.tracer.unpatch()
        stop_spark(spark)
    steal = host.steal_pct(steal0, host.cpu_times())
    correct = workload.correct()

    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "timed_s": round(timed_s, 3), "session_start_s": round(session_s, 3),
        "host.calib_ms": round(calib, 3), "host.steal_pct": round(steal, 3),
        "peak_rss_mb_by_process": {k: round(v, 1) for k, v in rss.items()},
        "detail": workload.detail(),
    }
    if ctx.trace:
        events = spans.EventLog(root.sub("events"))
        layer = {k: 0.0 for k in _per_layer_units()}
        layer.update(workload.per_layer(events))
        layer.update(_spark_totals(ctx.tracer, events))
        layer["session.start_s"] = session_s
        layer["session.warmup_s"] = setup_s - session_s
        layer["host.calib_ms"] = calib
        layer["host.steal_pct"] = steal
        layer.update({f"traced.{k}": v for k, v in e2e.items()})
        units = _per_layer_units()
        metrics = {k: {"value": float(layer[k]), "unit": units[k]} for k in units}
        out_dir = os.path.join(CHECKOUT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        ctx.tracer.dump(os.path.join(out_dir, f"spans-{ctx.run_id}.json"))
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": correct,
        "attempted": int(workload.attempted),
        "failed": int(workload.failed if correct else workload.attempted),
        "metrics": metrics,
    }
    print(json.dumps({"info": info}))
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


def _spark_totals(tracer, events) -> dict:
    """Stage metrics of every job the timed cycles ran, per cycle."""
    roots = [s["id"] for s in tracer.timed("cycle") + tracer.timed("round")]
    ids = set().union(*(tracer.descendants(r) for r in roots)) if roots else set()
    tot = events.totals(events.jobs_in(ids))
    n = max(len(roots), 1)
    return {
        "spark.executor_run_s": tot["run_ms"] / 1000 / n,
        "spark.gc_s": tot["gc_ms"] / 1000 / n,
        "spark.shuffle_write_mb": tot["shuffle_bytes"] / 2**20 / n,
        "spark.spill_mb": (tot["spill_mem_bytes"] + tot["spill_disk_bytes"]) / 2**20 / n,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import momyre_spark.session  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {CHECKOUT}: {exc}",
              file=sys.stderr)
        return 2
    cwd = os.getcwd()
    root = host.RunRoot(os.path.join(CHECKOUT, ".perfbench_runs"))
    try:
        root.enter()
        return run(args, root)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        root.remove(cwd)


if __name__ == "__main__":
    sys.exit(main())
