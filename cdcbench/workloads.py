"""The workloads: one closed-loop client (this process) each.

A workload object does one set-up repetition per ``setup()`` call and one
pass per ``iteration()`` call. Every pass appends samples for the
end-to-end metrics and queues its oracle checks; ``check()`` runs them
after the timed region. Only the code inside ``_timed`` blocks counts
toward the timed wall (and the trace's timed windows). Each end-to-end
metric is the median of its samples, and every metric gets several
samples a run, so one slow operation does not move it.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from astro_data_pipeline_spark.cdc import apply as A
from astro_data_pipeline_spark.cdc.runner import CdcRunner, read_event_log
from astro_data_pipeline_spark.lakehouse.matview import AggSpec, IncrementalAggView
from astro_data_pipeline_spark.lakehouse.table import LakeTable
from astro_data_pipeline_spark.streaming import replay as stream_replay
from astro_data_pipeline_spark.streaming.progress import recording_listener

from . import host
from . import inputs as I

# 16, not the 64 of bench.py: at these log sizes a 64-bucket table spends
# most of each write, read and compaction scheduling near-empty tasks
# (3x the wall of 16 buckets on a 4-CPU host), too slow to sample enough
# passes in a run
N_BUCKETS = 16
VIEW_BUCKETS = 4  # the view holds one row per repo (about 20)
STATE_COLS = ["repo", "path", "commit", "lang", "lang_meta", "content_sha256", "last_lsn"]
VIEW_SPECS = [
    AggSpec("count", None, "n_files"),
    AggSpec("sum", "last_lsn", "sum_lsn"),
    AggSpec("max", "last_lsn", "max_lsn"),
]


def _new_table(spark, root: str) -> LakeTable:
    return LakeTable.create(
        spark, root, T.StructType(A.BASE_TABLE_FIELDS), A.KEY_COLS, n_buckets=N_BUCKETS
    )


def _tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def table_facts(table: LakeTable) -> dict:
    """On-disk shape of a table: data files and bytes, metadata bytes,
    the head snapshot's size, and delta files per bucket."""
    snap = table.current_snapshot()
    files, data_bytes = _tree_bytes(os.path.join(table.root, "data"), ".parquet")
    _, meta_bytes = _tree_bytes(os.path.join(table.root, "metadata"))
    head = os.path.join(table.root, "metadata", f"snapshot-{snap.snapshot_id}.json")
    return {
        "table.files_written": files,
        "table.data_bytes": data_bytes,
        "table.metadata_bytes": meta_bytes,
        "table.head_snapshot_bytes": os.path.getsize(head),
        "table.delta_files_per_bucket": sum(len(v) for v in snap.delta_files.values())
        / snap.n_buckets,
    }


def _norm(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    df = df.reindex(columns=cols).astype(object)
    return df.where(pd.notna(df), None).sort_values(cols[:2]).reset_index(drop=True)


def state_mismatches(got: pd.DataFrame, want: pd.DataFrame) -> int:
    """Rows present on one side only, or differing in any state column."""
    g, w = _norm(got, STATE_COLS), _norm(want, STATE_COLS)
    g["last_lsn"] = g["last_lsn"].map(int)
    w["last_lsn"] = w["last_lsn"].map(int)
    m = g.merge(w, on=["repo", "path"], how="outer", indicator=True, suffixes=("_g", "_w"))
    bad = m["_merge"] != "both"
    for c in STATE_COLS[2:]:
        bad |= m[f"{c}_g"].ne(m[f"{c}_w"]) & ~(m[f"{c}_g"].isna() & m[f"{c}_w"].isna())
    return int(bad.sum())


def expected_view(state: pd.DataFrame) -> pd.DataFrame:
    """Per-repo count / sum / max of last_lsn over an oracle state."""
    g = state.groupby("repo")["last_lsn"]
    return pd.DataFrame(
        {"n_files": g.size(), "sum_lsn": g.sum(), "max_lsn": g.max()}
    ).reset_index()


def view_mismatches(got: pd.DataFrame, want: pd.DataFrame) -> int:
    cols = ["repo", "n_files", "sum_lsn", "max_lsn"]
    g = got[cols].astype({"n_files": int, "sum_lsn": int, "max_lsn": int})
    m = g.merge(want[cols], on="repo", how="outer", indicator=True, suffixes=("_g", "_w"))
    bad = m["_merge"] != "both"
    for c in cols[1:]:
        bad |= m[f"{c}_g"] != m[f"{c}_w"]
    return int(bad.sum())


def lookup_ok(got: dict | None, want) -> bool:
    if want is None:
        return got is None
    return got is not None and (
        got["content_sha256"] == want["content_sha256"]
        and int(got["last_lsn"]) == int(want["last_lsn"])
        and got["commit"] == want["commit"]
    )


class Timed:
    def __init__(self):
        self.s = 0.0
        self.cpu_s = 0.0


class Workload:
    name = ""
    MIN_PASSES = 1  # measured passes, however long they take

    def __init__(self, spark, inputs: I.Inputs, work_dir: str, seed: int):
        self.spark = spark
        self.inputs = inputs
        self.work = work_dir
        self.seed = seed
        self.n_events = inputs.meta["n_events"]
        # planted invalid events each pass must quarantine
        self.expected_quarantine = inputs.meta["n_invalid"]
        self.tracer = None
        self.windows: list[tuple[float, float]] = []
        self.samples: dict[str, list] = defaultdict(list)
        self.facts: dict[str, list] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.settle_s: list[float] = []
        self._checks: list = []

    # -- helpers ------------------------------------------------------
    def settle(self) -> None:
        """Before a measured block: a full JVM GC, then a wait for the
        process tree to go idle, so the block's CPU holds none of the
        previous block's background work (its garbage, JIT compilation,
        cleanup)."""
        p0 = time.perf_counter()
        self.spark.sparkContext._jvm.System.gc()
        host.wait_idle()
        self.settle_s.append(time.perf_counter() - p0)

    @contextlib.contextmanager
    def _timed(self):
        self.settle()
        box = Timed()
        c0 = host.tree_cpu_s()
        t0, p0 = time.time(), time.perf_counter()
        try:
            yield box
        finally:
            box.s = time.perf_counter() - p0
            self.windows.append((t0, time.time()))
            box.cpu_s = host.tree_cpu_s() - c0

    def _span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else contextlib.nullcontext()

    def _fresh(self, name: str) -> str:
        root = os.path.join(self.work, "tables", name)
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.dirname(root), exist_ok=True)
        return root

    def _expect(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def _sample_keys(self, ev: pd.DataFrame, n: int) -> list[tuple]:
        keys = ev.loc[ev["op"].isin(I.VALID_OPS), ["repo", "path"]]
        keys = keys.drop_duplicates().sort_values(["repo", "path"])
        rng = np.random.default_rng(self.seed)
        pick = rng.choice(len(keys), size=min(n, len(keys)), replace=False)
        return [tuple(r) for r in keys.iloc[np.sort(pick)].itertuples(index=False)]

    def _lookups(self, table: LakeTable, keys: list[tuple], want: dict) -> None:
        """Single-threaded point reads; each result is checked later."""
        got = []
        with self._timed():
            for repo, path in keys:
                p0 = time.perf_counter()
                row = table.read_key_local({"repo": repo, "path": path})
                self.samples["lookup_ms"].append((time.perf_counter() - p0) * 1e3)
                got.append(row)

        def check():
            for k, row in zip(keys, got):
                self._expect(lookup_ok(row, want.get(k)))

        self._checks.append(check)

    def _mor_scan(self, table: LakeTable) -> None:
        """Full current-state read (noop sink: every column is
        materialized)."""
        with self._timed() as t, self._span("lakehouse.table", "read"):
            table.read().write.format("noop").mode("overwrite").save()
        self.samples["mor_scan_s"].append(t.s)
        self.samples["mor_scan_cpu_s"].append(t.cpu_s)

    def _compact(self, table: LakeTable) -> None:
        before = table.current_snapshot()
        with self._timed() as t:
            table.compact()
        self.samples["compact_s"].append(t.s)
        self.samples["compact_cpu_s"].append(t.cpu_s)
        old = {p for fs in before.files.values() for p in fs}
        new = [p for fs in table.current_snapshot().files.values() for p in fs if p not in old]
        self.facts["table.compact_bytes_rewritten"].append(
            sum(os.path.getsize(os.path.join(table.root, p)) for p in new)
        )

    def _ingested(self, table: LakeTable, reports: list, n_applied: int) -> None:
        """Facts after ingest (untimed). Bytes are per event of the whole
        log, since the table holds the result of all of it."""
        facts = table_facts(table)
        for k, v in facts.items():
            self.facts[k].append(v)
        self.samples["bytes_per_event"].append(
            (facts["table.data_bytes"] + facts["table.metadata_bytes"]) / self.n_events
        )
        # replay returns BatchReports, the stream returns plain dicts
        reports = [r if isinstance(r, dict) else vars(r) for r in reports]
        self.facts["apply.rows_out"].append(
            sum(
                r["totals"].get("rows_upserted", 0) + r["totals"].get("rows_delete_ops", 0)
                for r in reports
            )
        )
        self.facts["apply.events_in"].append(n_applied)
        quarantined = sum(r["n_quarantined"] for r in reports)
        self.facts["runner.rows_quarantined"].append(quarantined)
        self._checks.append(lambda: self._expect(quarantined == self.expected_quarantine))
        for r in reports:
            self._expect(r["status"] == "applied")

    def _check_table(self, table: LakeTable, want: pd.DataFrame) -> None:
        got = table.read().select(*[c for c in STATE_COLS]).toPandas()
        self._expect(state_mismatches(got, want) == 0)

    # -- protocol -----------------------------------------------------
    def rebind(self, spark) -> None:
        """Re-create Spark-side handles after a session restart."""
        self.spark = spark

    def setup(self) -> None:
        raise NotImplementedError

    def iteration(self, i: int) -> None:
        raise NotImplementedError

    def discard_samples(self) -> None:
        """Forget what earlier passes measured; their checks stay queued."""
        self.windows.clear()
        self.samples.clear()
        self.facts.clear()

    def check(self) -> None:
        for c in self._checks:
            c()
        self._checks.clear()

    def step_latencies(self) -> list[float]:
        raise NotImplementedError

    def metrics(self) -> dict:
        """End-to-end metrics besides set-up: the CPU the engine spends
        per event ingested (this process and its descendants) and the
        bytes it stores. README "End-to-end metrics" gives the reasons."""
        med = statistics.median
        return {
            "ingest_cpu_ms_per_event": med(self.samples["ingest_cpu_ms_per_event"]),
            "bytes_per_event": med(self.samples["bytes_per_event"]),
        }

    def unbounded_metrics(self) -> dict:
        """Wall-clock figures, and the CPU of full reads and compactions:
        measured on every run, reported without a bound; 0 where the
        workload does not do the operation."""

        def med(v):
            return statistics.median(v) if v else 0.0

        return {
            "wall.ingest_events_per_s": med(self.samples["ingest_events_per_s"]),
            "wall.step_latency_s_p50": med(self.step_latencies()),
            "wall.mor_scan_s": med(self.samples["mor_scan_s"]),
            "wall.compact_s": med(self.samples["compact_s"]),
            "cpu.mor_scan_s": med(self.samples["mor_scan_cpu_s"]),
            "cpu.compact_s": med(self.samples["compact_cpu_s"]),
        }


class BulkReplay(Workload):
    """A 15k-event log in 2 segments with mid-log schema evolution, 2%
    duplicate deliveries and bounded disorder, replayed in 4 LSN batches
    into a fresh 16-bucket MoR table, then compacted. At least three
    measured passes; set-up's small replay is the warm-up. Full reads and
    point lookups are stream_view's."""

    name = "bulk_replay"
    N_BATCHES = 4
    MIN_PASSES = 3

    def rebind(self, spark) -> None:
        super().rebind(spark)
        self.log = read_event_log(spark, *self.inputs.log_paths)

    def setup(self) -> None:
        self.rebind(self.spark)
        self.want = self.inputs.oracle()
        ev = self.inputs.events(columns=["lsn"])
        # warm-up: an eighth of the log through the same call
        lo, hi = int(ev["lsn"].min()), int(ev["lsn"].max())
        root = self._fresh("warmup")
        table = _new_table(self.spark, root)
        CdcRunner(self.spark, table, run_id="warmup", mode="mor").replay(
            self.log.filter(F.col("lsn") <= lo + (hi - lo) // 8), n_batches=1
        )
        shutil.rmtree(root)

    def iteration(self, i: int) -> None:
        table = _new_table(self.spark, self._fresh(f"bulk-{i}"))
        runner = CdcRunner(self.spark, table, run_id=f"bulk-{i}", mode="mor")
        with self._timed() as t:
            reports = runner.replay(self.log, n_batches=self.N_BATCHES)
        self.samples["ingest_events_per_s"].append(self.n_events / t.s)
        self.samples["ingest_cpu_ms_per_event"].append(t.cpu_s * 1e3 / self.n_events)
        self.samples["batch_s"].append(t.s / self.N_BATCHES)
        self._ingested(table, reports, self.n_events)
        self._compact(table)
        self._checks.append(lambda: self._check_table(table, self.want))

    def step_latencies(self) -> list[float]:
        return self.samples["batch_s"]


class EpochClock:
    """Passed to the drain as one more "view": the stream calls
    ``refresh()`` on every view at the end of each epoch's handler (and
    once after the drain), so each call stamps the process tree's CPU
    seconds at an epoch boundary."""

    def __init__(self):
        self.cpu_s = [host.tree_cpu_s()]

    def refresh(self) -> None:
        self.cpu_s.append(host.tree_cpu_s())

    def per_epoch(self) -> list[float]:
        return list(np.diff(self.cpu_s))


class StreamView(Workload):
    """A 16-bucket MoR table built from the first half of a 10k-event log
    (one replay batch) carries a per-repo count/sum/max view and a twin.
    A pass lands the other half as 3 LSN-ordered WAL segments and drains
    them in one ``stream_replay_available_now(max_files_per_trigger=1)``
    call: one epoch per segment, the view refreshed incrementally inside
    each. Then a full read of the uncompacted table, point lookups of
    keys the segments touched, and a full rebuild of the twin. One pass a
    run: CPU per event is the median over its epochs, each stamped by an
    ``EpochClock``. Compaction is bulk_replay's."""

    name = "stream_view"
    N_LOOKUPS = 200  # a run's p95 has 10 samples beyond it

    def setup(self) -> None:
        cuts = self.inputs.meta["cuts"]
        ev = self.inputs.events(columns=["lsn", "op", "repo", "path"])
        tail = ev[ev["lsn"] > cuts[0]]
        self.tail_events = len(tail)
        self.slice_events = [
            int(((ev["lsn"] > a) & (ev["lsn"] <= b)).sum()) for a, b in zip(cuts, cuts[1:])
        ]
        self.expected_quarantine = int((~tail["op"].isin(I.VALID_OPS)).sum())
        self.keys = self._sample_keys(tail, self.N_LOOKUPS)
        self.states = [
            self.inputs.oracle(f"oracle_cut{k}.parquet") for k in range(1, len(cuts))
        ]
        self.want_by_key = {
            (r["repo"], r["path"]): r for r in self.states[-1].to_dict("records")
        }
        # the base and both views, built fresh by every set-up repetition
        self.template = self._fresh("view-template")
        table = _new_table(self.spark, os.path.join(self.template, "lake"))
        log = read_event_log(self.spark, self.inputs.path("segments/seg-00000.parquet"))
        CdcRunner(self.spark, table, run_id="base", mode="mor").replay(log, n_batches=1)
        IncrementalAggView.create(
            self.spark, os.path.join(self.template, "mv-inc"), table, ["repo"],
            VIEW_SPECS, n_buckets=VIEW_BUCKETS,
        )
        # the twin starts from the same committed view state
        shutil.copytree(
            os.path.join(self.template, "mv-inc"), os.path.join(self.template, "mv-full")
        )

    def _land_segments(self, wal: str) -> None:
        """Every segment of the pass lands before the drain, with
        modification times one second apart in LSN order (the file
        source picks files up oldest first)."""
        os.makedirs(wal)
        t0 = time.time() - 60
        for k, name in enumerate(self.inputs.meta["segments"][1:]):
            dst = os.path.join(wal, name)
            shutil.copy(os.path.join(self.inputs.path("segments"), name), dst)
            os.utime(dst, (t0 + k, t0 + k))

    def _view_history(self, view: IncrementalAggView, table: LakeTable) -> list:
        """(LSN high-water mark of the base, view contents) for every
        refresh commit past the base, oldest first."""
        lsn_hi = {s.snapshot_id: s.summary.get("lsn_hi") for s in table.snapshot_chain()}
        out = []
        for snap in view.table.snapshot_chain():
            hi = lsn_hi.get(snap.summary.get("mv_refresh_to"))
            if hi is not None and int(hi) > self.inputs.meta["cuts"][0]:
                out.append((int(hi), view._emit(view.table.read(snapshot=snap)).toPandas()))
        return sorted(out, key=lambda x: x[0])

    def iteration(self, i: int) -> None:
        root = self._fresh(f"view-{i}")
        shutil.copytree(self.template, root)
        self._land_segments(os.path.join(root, "wal"))
        table = LakeTable.load(self.spark, os.path.join(root, "lake"))
        v_inc = IncrementalAggView.load(self.spark, os.path.join(root, "mv-inc"), base=table)
        v_full = IncrementalAggView.load(self.spark, os.path.join(root, "mv-full"), base=table)
        with recording_listener(self.spark) as rec:
            with self._timed() as t:
                clock = EpochClock()
                reports = stream_replay.stream_replay_available_now(
                    self.spark, os.path.join(root, "wal", "seg-*.parquet"), table,
                    os.path.join(root, "ckpt"), run_id="wal",
                    max_files_per_trigger=1, views=[v_inc, clock],
                )
            progress = [
                p for p in rec.wait_for(len(reports), timeout_s=60) if p["num_input_rows"] > 0
            ]
        self.samples["ingest_events_per_s"].append(self.tail_events / t.s)
        for cpu_s, n in zip(clock.per_epoch(), self.slice_events):
            self.samples["ingest_cpu_ms_per_event"].append(cpu_s * 1e3 / n)
        for p in progress:
            d = p["duration_ms"]
            self.samples["epoch_s"].append(d["triggerExecution"] / 1e3)
            self.facts["streaming.add_batch_s"].append(d.get("addBatch", 0) / 1e3)
            self.facts["streaming.overhead_s"].append(
                (d["triggerExecution"] - d.get("addBatch", 0)) / 1e3
            )
        self.facts["streaming.epochs"].append(len(progress))
        self._expect(len(progress) == len(self.states))
        views = self._view_history(v_inc, table)  # untimed; checked later
        self._ingested(table, reports, self.tail_events)
        self._mor_scan(table)
        self._lookups(table, self.keys, self.want_by_key)
        with self._timed():
            v_full.refresh(full=True)
        full_view = v_full.read().toPandas()

        def check():
            cuts = self.inputs.meta["cuts"]
            # one refresh per epoch, each equal to the oracle at its cut
            self._expect(len(views) == len(self.states))
            for hi, got in views:
                k = next((k for k in range(1, len(cuts)) if hi <= cuts[k]), len(cuts) - 1)
                self._expect(view_mismatches(got, expected_view(self.states[k - 1])) == 0)
            self._expect(view_mismatches(full_view, expected_view(self.states[-1])) == 0)
            self._check_table(table, self.states[-1])

        self._checks.append(check)

    def step_latencies(self) -> list[float]:
        return self.samples["epoch_s"]


WORKLOADS = {w.name: w for w in (BulkReplay, StreamView)}
