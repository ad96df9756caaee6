"""Outside-in layer trace: spans around the engine's public calls, plus
an offline Spark event log parsed after the run.

Spans are recorded by wrapping public methods from here (the engine is
not edited). Each span sets ``spark.job.description`` to
``<layer>:<call>`` in its own thread while it runs, so the event log
names the layer that submitted each job; a job without such a
description (streaming internals, threads the wrapper never ran in) is
given to the innermost span open when it was submitted.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

from astro_data_pipeline_spark.cdc.runner import CdcRunner
from astro_data_pipeline_spark.lakehouse.matview import IncrementalAggView
from astro_data_pipeline_spark.lakehouse.table import LakeTable
from astro_data_pipeline_spark.streaming import replay as stream_replay
from astro_data_pipeline_spark.streaming.runner_bridge import StreamApplier

# (layer, owner, attribute, span name): the public calls the trace wraps
TRACED_CALLS = [
    ("cdc.runner", CdcRunner, "replay", "replay"),
    ("cdc.runner", CdcRunner, "apply_batch", "apply_batch"),
    ("cdc.runner", CdcRunner, "detect_hot_keys", "detect_hot_keys"),
    ("lakehouse.table", LakeTable, "mor_write", "mor_write"),
    ("lakehouse.table", LakeTable, "mor_finalize", "mor_finalize"),
    ("lakehouse.table", LakeTable, "compact", "compact"),
    ("lakehouse.table", LakeTable, "current_snapshot", "current_snapshot"),
    ("lakehouse.table", LakeTable, "committed_batch_ids", "committed_batch_ids"),
    ("lakehouse.table", LakeTable, "read_key_local", "read_key_local"),
    ("lakehouse.matview", IncrementalAggView, "refresh", "refresh"),
    ("streaming", StreamApplier, "__call__", "epoch_apply"),
    ("streaming", stream_replay, "stream_replay_available_now", "replay_available_now"),
]
LAYERS = ["cdc.runner", "lakehouse.table", "lakehouse.matview", "streaming"]


@dataclass
class Span:
    layer: str
    name: str
    t0: float
    t1: float
    thread: int
    depth: int


class Tracer:
    """Nested spans kept in memory; install() wraps TRACED_CALLS."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple] = []

    @contextmanager
    def span(self, layer: str, name: str):
        depth = getattr(self._local, "depth", 0)
        self._local.depth = depth + 1
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setLocalProperty("spark.job.description", f"{layer}:{name}")
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.job.description", prev)
            self._local.depth = depth
            with self._lock:
                self.spans.append(Span(layer, name, t0, t1, threading.get_ident(), depth))

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            n = name
            if name == "refresh" and kwargs.get("full"):
                n = "refresh_full"
            with tracer.span(layer, n):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for layer, owner, attr, name in TRACED_CALLS:
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(layer, name, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()


# ---------------------------------------------------------------- timeline


def _clip(t0: float, t1: float, windows: list[tuple[float, float]]):
    for w0, w1 in windows:
        a, b = max(t0, w0), min(t1, w1)
        if b > a:
            yield a, b


def union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time_by_layer(spans: list[Span], windows) -> dict[str, float]:
    """Partition the timed wall among layers: every instant goes to the
    innermost open span (the latest started, in any thread); instants
    with no open span are ``other``. Self time of a layer is therefore
    its spans' duration minus the part covered by spans opened inside
    them."""
    out = defaultdict(float)
    for w0, w1 in windows:
        cuts = {w0, w1}
        live = []
        for s in spans:
            for a, b in _clip(s.t0, s.t1, [(w0, w1)]):
                cuts.update((a, b))
                live.append((a, b, s))
        cuts = sorted(cuts)
        for a, b in zip(cuts, cuts[1:]):
            open_ = [s for (x, y, s) in live if x <= a and y >= b]
            if open_:
                owner = max(open_, key=lambda s: (s.t0, s.depth))
                out[owner.layer] += b - a
            else:
                out["other"] += b - a
    return dict(out)


def innermost_at(spans: list[Span], t: float) -> Span | None:
    open_ = [s for s in spans if s.t0 <= t <= s.t1]
    return max(open_, key=lambda s: (s.t0, s.depth)) if open_ else None


# --------------------------------------------------------------- event log


@dataclass
class Task:
    run_ms: float
    cpu_ns: float
    gc_ms: float
    in_bytes: int
    out_bytes: int
    shuffle_write: int
    shuffle_read: int


def parse_event_log(log_dir: str) -> tuple[dict, dict]:
    """(jobs, stages) from the one finished event log in ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "desc": props.get("spark.job.description"),
                    "stages": [],
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, {"job": stage_job.get(sid), "tasks": []})
                st["tasks"].append(
                    Task(
                        run_ms=m.get("Executor Run Time", 0),
                        cpu_ns=m.get("Executor CPU Time", 0),
                        gc_ms=m.get("JVM GC Time", 0),
                        in_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
                        out_bytes=m.get("Output Metrics", {}).get("Bytes Written", 0),
                        shuffle_write=m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        shuffle_read=sum(
                            m.get("Shuffle Read Metrics", {}).get(k, 0)
                            for k in ("Remote Bytes Read", "Local Bytes Read")
                        ),
                    )
                )
    for sid, st in stages.items():
        if st["job"] in jobs:
            jobs[st["job"]]["stages"].append(sid)
    return jobs, stages


def attribute_jobs(jobs: dict, spans: list[Span], windows) -> dict[int, str]:
    """job id -> "<layer>:<call>" for every job submitted in the timed
    windows: its own description when a span set one, else the innermost
    span open at submission, else "other"."""
    names = {f"{s.layer}:{s.name}" for s in spans}
    out = {}
    for jid, j in jobs.items():
        if not any(w0 <= j["submit"] <= w1 for w0, w1 in windows):
            continue
        if j["desc"] in names:
            out[jid] = j["desc"]
        else:
            s = innermost_at(spans, j["submit"])
            out[jid] = f"{s.layer}:{s.name}" if s else "other"
    return out


def spark_metrics(jobs: dict, stages: dict, owner: dict[int, str], windows, cores: int) -> dict:
    tasks = [t for jid in owner for sid in jobs[jid]["stages"] for t in stages[sid]["tasks"]]
    wall = sum(w1 - w0 for w0, w1 in windows)
    busy = union_s(
        iv
        for jid in owner
        for iv in _clip(jobs[jid]["submit"], jobs[jid]["end"] or jobs[jid]["submit"], windows)
    )
    cpu_s = sum(t.cpu_ns for t in tasks) / 1e9
    return {
        "spark.jobs": len(owner),
        "spark.tasks": len(tasks),
        "spark.executor_cpu_s": cpu_s,
        "spark.executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "spark.core_utilization": cpu_s / (wall * cores),
        "spark.driver_serial_s": wall - busy,
        "spark.input_bytes": sum(t.in_bytes for t in tasks),
        "spark.output_bytes": sum(t.out_bytes for t in tasks),
        "spark.shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
    }


def apply_metrics(jobs: dict, stages: dict, owner: dict[int, str]) -> dict:
    """``cdc.apply`` runs fused into the table write, so its stages are
    those of jobs submitted by ``mor_write``: the exchange's map side
    (shuffle write) and the collapse stage that reads the exchange and
    writes the delta files. Skew is max/median task run time of each
    collapse stage, medianed over batches."""
    shuffle_write, skews = 0, []
    for jid, who in owner.items():
        if who != "lakehouse.table:mor_write":
            continue
        for sid in jobs[jid]["stages"]:
            ts = stages[sid]["tasks"]
            shuffle_write += sum(t.shuffle_write for t in ts)
            if sum(t.shuffle_read for t in ts) and sum(t.out_bytes for t in ts):
                runs = [t.run_ms for t in ts]
                med = statistics.median(runs)
                if med > 0:
                    skews.append(max(runs) / med)
    return {
        "apply.shuffle_write_bytes": shuffle_write,
        "apply.task_skew": statistics.median(skews) if skews else 0.0,
    }


def span_metrics(spans: list[Span], windows) -> dict:
    """Inclusive seconds and call counts per traced call, inside the
    timed windows."""
    out = defaultdict(float)
    for s in spans:
        d = sum(b - a for a, b in _clip(s.t0, s.t1, windows))
        if d <= 0:
            continue
        key = f"{s.layer}:{s.name}"
        out[key + ":s"] += d
        out[key + ":calls"] += 1
    return out
