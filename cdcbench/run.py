"""Run one benchmark workload and print its metrics.

    python3 cdcbench/run.py --workload <bulk_replay|stream_view>
        --seed <n> --seconds <s> --trace <0|1>

Generates (or reuses) the seeded inputs, starts the engine's session on
``local[<cores>]``, sets up several times, runs measured passes (at least
the workload's minimum, more while ``--seconds`` allow), checks every
output against the pandas oracle, and prints as its last line
``{"correct", "attempted", "failed", "metrics"}``. The bounded metrics are
CPU seconds and bytes (cdcbench/README.md says why). The line before it is
a detail record: host fingerprint, set-up repetitions, pass times, the
unbounded wall-clock figures, sample counts and, when traced, layer
coverage and tracing overhead.

``--trace 1`` runs one untraced pass, restarts the session with an
offline event log, runs one traced pass, and reports the per-layer
metrics instead of the end-to-end ones. Everything the run writes stays
under ``cdcbench/.work`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "cdcbench", ".work")
SETUP_REPS = 3
SPARK_MEMORY = "4g"


def _environment() -> None:
    """Keep Spark's scratch, temp files and JVM temp dir in the checkout
    and the Spark driver heap small (the host is shared)."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = SPARK_MEMORY
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = f"-XX:MaxDirectMemorySize={SPARK_MEMORY}"
    # every JVM, spark-submit's launcher included: no /tmp perf-data file
    # and JIT compiler threads that live as long as the JVM, so the CPU
    # they use can be told apart (host.tree_cpu_s)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
    )


def _session(cores: int, event_log: str | None = None):
    from astro_data_pipeline_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="cdcbench", cpus=cores, extra_conf=conf)


def _shutdown_jvm() -> None:
    """Stop the JVM this process started and wait until it has exited
    (``spark.stop()`` leaves it running until the interpreter exits)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway server exits on stdin EOF
    gateway.proc.wait(timeout=120)


def _layer_metrics(wl, tracer, log_dir: str, cores: int) -> tuple[dict, dict]:
    import numpy as np

    from cdcbench import spans as tr

    med = statistics.median
    windows, spans = wl.windows, tracer.spans
    jobs, stages = tr.parse_event_log(log_dir)
    owner = tr.attribute_jobs(jobs, spans, windows)
    calls = tr.span_metrics(spans, windows)
    selfs = tr.self_time_by_layer(spans, windows)
    wall = sum(b - a for a, b in windows)

    def s(key):
        return calls.get(key + ":s", 0.0)

    def n(key):
        return int(calls.get(key + ":calls", 0))

    def pct(v, q):
        return float(np.percentile(v, q)) if v else 0.0

    def fact(key, agg=med):
        v = wl.facts.get(key)
        return agg(v) if v else 0

    refreshes = n("lakehouse.matview:refresh")
    m = {
        "runner.replay_s": s("cdc.runner:replay"),
        "runner.replay_calls": n("cdc.runner:replay"),
        "runner.detect_hot_keys_s": s("cdc.runner:detect_hot_keys"),
        "runner.detect_hot_keys_calls": n("cdc.runner:detect_hot_keys"),
        "runner.apply_batch_s": s("cdc.runner:apply_batch"),
        "runner.apply_batch_calls": n("cdc.runner:apply_batch"),
        "runner.rows_quarantined": fact("runner.rows_quarantined", sum),
        **tr.apply_metrics(jobs, stages, owner),
        "apply.rows_out_per_event": fact("apply.rows_out", sum) / max(fact("apply.events_in", sum), 1),
        "table.mor_write_s": s("lakehouse.table:mor_write"),
        "table.mor_write_calls": n("lakehouse.table:mor_write"),
        "table.mor_finalize_s": s("lakehouse.table:mor_finalize"),
        "table.current_snapshot_s": s("lakehouse.table:current_snapshot"),
        "table.current_snapshot_calls": n("lakehouse.table:current_snapshot"),
        "table.committed_batch_ids_s": s("lakehouse.table:committed_batch_ids"),
        "table.read_s": s("lakehouse.table:read"),
        "table.read_key_local_s": s("lakehouse.table:read_key_local"),
        "table.lookup_ms_p50": pct(wl.samples["lookup_ms"], 50),
        "table.lookup_ms_p95": pct(wl.samples["lookup_ms"], 95),
        "table.compact_s": s("lakehouse.table:compact"),
        "table.compact_bytes_rewritten": fact("table.compact_bytes_rewritten"),
        "table.files_written": fact("table.files_written"),
        "table.data_bytes": fact("table.data_bytes"),
        "table.metadata_bytes": fact("table.metadata_bytes"),
        "table.head_snapshot_bytes": fact("table.head_snapshot_bytes"),
        "table.delta_files_per_bucket": fact("table.delta_files_per_bucket"),
        "matview.refresh_s": s("lakehouse.matview:refresh"),
        "matview.refresh_calls": refreshes,
        "matview.jobs_per_refresh": (
            sum(1 for o in owner.values() if o == "lakehouse.matview:refresh") / refreshes
            if refreshes else 0.0
        ),
        "matview.full_refresh_s": s("lakehouse.matview:refresh_full"),
        "streaming.epochs": fact("streaming.epochs", sum),
        "streaming.epoch_apply_s": s("streaming:epoch_apply"),
        "streaming.add_batch_s": fact("streaming.add_batch_s", sum),
        "streaming.overhead_s": fact("streaming.overhead_s", sum),
        **tr.spark_metrics(jobs, stages, owner, windows, cores),
    }
    for layer in tr.LAYERS:
        m[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    m["trace.other_s"] = selfs.get("other", 0.0)
    m["trace.coverage"] = 1.0 - selfs.get("other", 0.0) / wall
    detail = {
        "timed_wall_s": wall,
        "self_time_s": selfs,
        "jobs_by_owner": {
            k: sum(1 for o in owner.values() if o == k) for k in sorted(set(owner.values()))
        },
        "jobs_described": sum(1 for j in owner if jobs[j]["desc"] == owner[j]),
    }
    return m, detail


UNITS = {
    "ingest_cpu_ms_per_event": "ms/event",
    "wall.ingest_events_per_s": "events/s",
    "bytes_per_event": "B/event",
    "apply.task_skew": "ratio",
    "apply.rows_out_per_event": "ratio",
    "spark.core_utilization": "ratio",
    "trace.coverage": "ratio",
    "trace.overhead_share": "ratio",
    "table.lookup_ms_p50": "ms",
    "table.lookup_ms_p95": "ms",
}


def _unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith(("_bytes", "_bytes_rewritten")):
        return "B"
    if name.endswith(("_s", "_s_p50")):
        return "s"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[0] = ROOT  # the package root, not this script's directory
    try:
        import astro_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"cdcbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from cdcbench import host
    from cdcbench import inputs as I
    from cdcbench.spans import Tracer
    from cdcbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    _environment()
    fp = host.fingerprint()
    cores = fp["nproc"]
    detail: dict = {
        "workload": args.workload, "seed": args.seed, "spark_cores": cores, "host_before": fp,
    }

    # the JVM starts while the inputs are generated (a cache miss)
    with ThreadPoolExecutor(max_workers=1) as pool:
        p0 = time.perf_counter()
        starting = pool.submit(_session, cores)
        inputs = I.load(args.workload, args.seed, WORK)
        detail["inputs_build_s"] = inputs.build_s
        spark = starting.result()
        detail["session_ready_s"] = time.perf_counter() - p0
    wl = WORKLOADS[args.workload](spark, inputs, WORK, args.seed)
    # set-up CPU (README "End-to-end metrics"); its wall time is detail
    setups, setups_wall = [], []
    for _ in range(SETUP_REPS):
        wl.settle()
        c0, p0 = host.tree_cpu_s(), time.perf_counter()
        wl.setup()
        setups.append(host.tree_cpu_s() - c0)
        setups_wall.append(time.perf_counter() - p0)
    detail["setup_reps_cpu_s"] = setups
    detail["setup_reps_s"] = setups_wall

    ticks = host.cpu_ticks()
    if not args.trace:
        # measured passes: at least MIN_PASSES, then as many more as are
        # expected to end within --seconds
        pass_s: list[float] = []
        p0 = time.perf_counter()
        while len(pass_s) < wl.MIN_PASSES or (
            time.perf_counter() - p0 + statistics.median(pass_s) <= args.seconds
        ):
            t0 = time.perf_counter()
            wl.iteration(len(pass_s))
            pass_s.append(time.perf_counter() - t0)
        detail["passes_s"] = pass_s
        detail["timed_wall_s"] = sum(b - a for a, b in wl.windows)
        detail["unbounded"] = wl.unbounded_metrics()
        wl.check()
        # the first repetition also pays class loading and runs code the
        # JIT has not compiled yet; it is in the detail record
        metrics = {"setup_s": statistics.median(setups[1:]), **wl.metrics()}
        spark.stop()
    else:
        wl.iteration(0)
        untraced = sum(b - a for a, b in wl.windows)
        unbounded = wl.unbounded_metrics()  # measured untraced
        wl.check()  # its tables are read through this session
        spark.stop()
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        spark = _session(cores, event_log=log_dir)
        wl.rebind(spark)
        wl.discard_samples()
        tracer = Tracer(spark)
        wl.tracer = tracer
        tracer.install()
        try:
            wl.iteration(1)
        finally:
            tracer.uninstall()
        traced = sum(b - a for a, b in wl.windows)
        wl.check()
        spark.stop()
        metrics, layer_detail = _layer_metrics(wl, tracer, log_dir, cores)
        metrics["trace.overhead_share"] = traced / untraced - 1.0
        metrics.update(unbounded)
        detail.update(layer_detail, untraced_wall_s=untraced, traced_wall_s=traced)

    detail["steal_share_after_setup"] = host.steal_share(ticks)
    detail["host_after_loadavg_1m"] = os.getloadavg()[0]
    detail["samples"] = {k: len(v) for k, v in wl.samples.items()}
    detail["step_samples_s"] = wl.step_latencies()
    detail["settle_s"] = wl.settle_s
    shutil.rmtree(os.path.join(WORK, "tables"), ignore_errors=True)
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }
    print(json.dumps(detail, default=float))
    print(json.dumps(result))
    return 0 if wl.failed == 0 else 1


if __name__ == "__main__":
    try:
        code = main()
    finally:
        _shutdown_jvm()
    sys.exit(code)
