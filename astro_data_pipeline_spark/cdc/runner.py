"""Micro-batch replay loop with exactly-once resume (SURVEY.md §7 Phase 2).

Spark restatement of the reference's job state machine + retry
(ProcessingJob.java:155-232, ProcessingJobService.retryJob :142-164,
Airflow batch slicing batch_processing_dag.py:126-135):

- the change log is sliced into deterministic LSN ranges (batch identity
  is a pure function of the range, NOT of run attempt or wall clock);
- each batch commits atomically with its batch_id in the snapshot
  summary; a killed job restarted over the same log finds committed
  batch_ids in the snapshot chain and skips them — exactly-once end to
  end without any side-effecting UDFs (task retries inside a batch are
  safe because nothing observes a batch until its commit point);
- additive schema evolution is promoted table-first: new event columns →
  ``ALTER TABLE ADD COLUMN``-equivalent metadata commit, then the batch
  aligns to the evolved schema (Flyway-additive contract,
  V2_1__Add_Processing_Context_Tables.sql:76-84).
"""

from __future__ import annotations

import math
import uuid
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lakehouse import LakeTable
from ..lakehouse.table import Snapshot, bucket_expr, is_lossless_widening, observed_metrics
from ..session import step
from . import apply as A


# how many reducers a hot key's events are spread over by the salted
# two-stage LWW collapse
N_SALTS = 8
# the share of the sampled events a single key must exceed to count as
# hot (``CdcRunner.detect_hot_keys``)
HOT_SHARE = 0.01


class KilledError(RuntimeError):
    """Injected mid-run failure (kill/resume tests)."""


@dataclass
class BatchReport:
    batch_id: str
    lsn_lo: int
    lsn_hi: int
    status: str  # applied | skipped | empty
    totals: dict = field(default_factory=dict)
    n_quarantined: int = 0
    snapshot_id: int | None = None


def lsn_ranges(min_lsn: int, max_lsn: int, n_batches: int) -> list[tuple[int, int]]:
    """Deterministic half-open (lo, hi] LSN slices covering the log."""
    if n_batches < 1:
        raise ValueError(f"n_batches must be >= 1, got {n_batches}")
    width = math.ceil((max_lsn - min_lsn + 1) / n_batches)
    out = []
    lo = min_lsn - 1
    while lo < max_lsn:
        hi = min(lo + width, max_lsn)
        out.append((lo, hi))
        lo = hi
    return out


def _quarantined() -> F.Column:
    # valid_predicate is coalesced to a real boolean internally, so ~ok
    # counts every quarantined row (three-valued logic can't silently
    # skip op=NULL rows)
    return F.count(F.when(~A.valid_predicate(), 1)).alias("rows_quarantined")


@dataclass
class _Batch:
    """A planned batch: its lazy rows plus what its write and finish
    steps need. Nothing has run yet."""

    batch_id: str
    lsn_lo: int
    lsn_hi: int
    events: DataFrame
    obs: Observation
    rows: DataFrame
    manifest: dict


class CdcRunner:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        run_id: str | None = None,
        mode: str = "mor",
        compact_every: int | None = None,
        pipeline_depth: int = 4,
    ):
        """Hot keys are detected automatically — once per replayed log,
        or per ``apply_batch`` call that passes no ``hot_keys`` — and
        salted over ``N_SALTS`` reducers.

        ``mode``: 'mor' (merge-on-read appends — the 10^10-scale ingest
        path, zero write amplification) or 'cow' (copy-on-write join —
        read-optimal).

        ``compact_every``: in mor mode, fold deltas into base files after
        every N batches a replay applies.

        ``pipeline_depth``: in mor mode, how many batch writes may be in
        flight at once (commits stay strictly ordered). 1 is the
        sequential loop; cow always runs at 1, because its merge reads
        the base it rewrites.
        """
        if mode not in ("mor", "cow"):
            raise ValueError(f"mode must be 'mor' or 'cow', got {mode!r}")
        self.spark = spark
        self.table = table
        self.run_id = run_id or f"run_{uuid.uuid4().hex[:12]}"
        self.mode = mode
        self.compact_every = compact_every
        self.pipeline_depth = max(int(pipeline_depth), 1)

    # ---------------------------------------------------------- evolution

    def _evolve_if_needed(self, events: DataFrame) -> Snapshot:
        """Promote additive event columns into the table schema
        (metadata-only commit) before applying, and WIDEN table
        columns whose upstream type grew (the upstream ``ALTER COLUMN
        ... TYPE`` case: a counter outgrowing int32 mid-stream). Without
        the widen, ``to_table_rows``'s align-cast would silently narrow
        every wide value back to the stale table type. Both promotions
        are metadata-only commits; zero data files move. Returns the
        head the batches are planned against."""
        self.table.evolve_to(
            events.schema,
            reserved={"lsn", "ts", "op"},
            summary={"run_id": self.run_id},
        )
        return self.table.current_snapshot()

    # -------------------------------------------------------------- apply

    def detect_hot_keys(self, events: DataFrame) -> list[tuple[str, str]]:
        """Heavy-hitter **keys** from a deterministic 2% sample of
        ``events`` (one cheap column-pruned job). Key-level, not
        repo-level: the collapse shuffles on the storage bucket =
        hash(repo, path), so a repo with many paths spreads evenly no
        matter how large — only a single key owning > HOT_SHARE of the
        batch (a file rewritten millions of times) can skew a reducer.
        Salting on repo hotness would trigger on Zipf repo-size skew the
        bucket hash already neutralizes. A key that hot is near-certain
        to surface in the sample; a full-scan count would cost a whole
        extra pass over the log."""
        # drop quarantine-bound rows (null repo/path are valid INPUTS —
        # valid_predicate filters them later): a large corrupt stripe
        # would otherwise form one null group that inflates max_n or even
        # returns a (None, None) "hot key", which the manifest join and
        # the salt expression cannot represent
        sample = (
            events.select("repo", "path")
            .filter(F.col("repo").isNotNull() & F.col("path").isNotNull())
            .sample(fraction=0.02, seed=42)
        )
        counts = sample.groupBy("repo", "path").agg(F.count("*").alias("n"))
        with step(self.spark, "runner.hot_keys"):
            # phase 1 (always): one job, two scalars to the driver. The
            # common case — no key anywhere near hot — stops here.
            stats = counts.agg(
                F.sum("n").alias("total"), F.max("n").alias("max_n")
            ).collect()[0]
            total = int(stats["total"] or 0)
            if total == 0:
                return []
            # floor of 5 sampled hits: below that the "hot" signal is
            # sampling noise (Poisson), and a key too small to clear 5 hits
            # is far too small to skew a reducer anyway
            cutoff = max(int(total * HOT_SHARE), 5)
            if int(stats["max_n"]) <= cutoff:
                return []
            # phase 2 (rare): pull only the keys above the cutoff
            return [
                (r["repo"], r["path"])
                for r in counts.filter(F.col("n") > cutoff).collect()
            ]

    def _build_rows(self, events: DataFrame, snap: Snapshot, hot: list[tuple[str, str]]):
        """The per-batch lazy plan: quarantine-observed validation →
        bucket-fused salted LWW collapse → table-row derivation (sha256,
        schema align). Returns (observation, rows DataFrame); nothing runs
        until the sink action fires.

        Bucket-fused collapse: ONE content-bearing shuffle serves both
        the LWW groupBy and the sink's bucket alignment (hash on the
        bucket — a function of the group keys — satisfies the agg's
        required distribution, so no second exchange). The exchange has
        no fixed width: AQE coalesces it from measured map-output bytes
        (never splitting a bucket), so a 4k-event batch writes in one
        task instead of one per bucket. On local[4] (BENCH/WIDTH.md)
        that cut cdcbench bulk_replay ingest CPU 0.58 -> 0.35 ms/event,
        and the sf0.1 replay (612k events, 64 buckets) 10.7 -> 7.9 s
        wall, 37.3 -> 26.5 CPU-s.
        """
        obs = Observation()
        valid = events.observe(obs, _quarantined()).filter(A.valid_predicate())
        collapsed = A.lww_collapse(
            valid,
            hot_keys=hot,
            n_salts=N_SALTS,
            bucket=bucket_expr(snap.key_cols, snap.n_buckets),
        )
        return obs, A.to_table_rows(collapsed, snap.schema)

    # The three per-batch steps below are shared by ``replay``'s loop and
    # ``apply_batch``: one place plans a batch and builds its manifest,
    # one place commits it, one place counts its quarantined rows.

    def _plan(
        self,
        events: DataFrame,
        batch_id: str,
        lsn_lo: int,
        lsn_hi: int,
        snap: Snapshot,
        committed: set[str],
        hot: Callable[[], list[tuple[str, str]]],
    ) -> _Batch | BatchReport:
        """Plan step: the skip check, then the batch's lazy rows and its
        commit manifest. ``hot`` is called only for a batch that will be
        applied, so a skipped batch never pays for hot-key detection."""
        if batch_id in committed:
            return BatchReport(batch_id, lsn_lo, lsn_hi, status="skipped")
        hot_keys = hot()
        obs, rows = self._build_rows(events, snap, hot_keys)
        manifest = {
            "run_id": self.run_id,
            "run_scope": self.run_id,
            "batch_id": batch_id,
            "lsn_lo": lsn_lo,
            "lsn_hi": lsn_hi,
            "hot_keys": ["\x1f".join(k) for k in hot_keys],
        }
        return _Batch(batch_id, lsn_lo, lsn_hi, events, obs, rows, manifest)

    def _write(self, b: _Batch, snap: Snapshot, commit_id: int):
        """Write step. MoR writes the batch's delta files under the
        pre-assigned ``commit_id``; they stay invisible until the finish
        step commits them. CoW probes the touched buckets with a
        column-pruned key scan (content never read) and merges them,
        which commits against the head the merge reads itself. Runs in a
        pool thread during ``replay``, so its step is opened here."""
        with step(self.spark, "runner.write"):
            if self.mode == "mor":
                return self.table.mor_write(
                    b.rows,
                    commit_id,
                    op_col="op",
                    delete_op="delete",
                    bucket_aligned=True,
                    snapshot=snap,
                )
            # quarantine-bound rows (null key cols) never reach the merge —
            # without this filter their hash bucket would be spuriously
            # rewritten on every batch carrying a corrupt stripe
            keyed = b.events
            for c in snap.key_cols:
                keyed = keyed.filter(F.col(c).isNotNull())
            touched = [
                r[0]
                for r in keyed.select(bucket_expr(snap.key_cols, snap.n_buckets))
                .distinct()
                .collect()
            ]
            return self.table.merge(
                b.rows,
                op_col="op",
                delete_op="delete",
                touched_buckets=touched,
                summary=b.manifest,
            )

    def _finish(self, b: _Batch, written, expect_parent: int) -> BatchReport:
        """Finish step: commit (MoR's ordered finalize onto
        ``expect_parent``; a CoW merge has already committed), count the
        batch's quarantined rows (a job only when the observation is
        empty), report."""
        if self.mode == "mor":
            snap, metrics = self.table.mor_finalize(
                written, summary=b.manifest, expect_parent=expect_parent
            )
        else:
            snap, metrics = written
        with step(self.spark, "runner.finish"):
            n_bad = observed_metrics(b.obs, b.events, [_quarantined()])["rows_quarantined"]
        return BatchReport(
            b.batch_id,
            b.lsn_lo,
            b.lsn_hi,
            status="applied",
            totals=metrics["totals"],
            n_quarantined=n_bad,
            snapshot_id=snap.snapshot_id,
        )

    def apply_batch(
        self,
        events: DataFrame,
        batch_id: str,
        lsn_lo: int,
        lsn_hi: int,
        hot_keys: list[tuple[str, str]] | None = None,
        committed: set[str] | None = None,
    ) -> BatchReport:
        """Validate → salted LWW → sha256 → MERGE, one atomic commit: the
        replay loop's own plan, write and finish steps, run inline.

        Cost shape per batch: one content-heavy pass (validate-observe →
        collapse → sha → write); CoW adds a column-pruned key scan for
        the touched buckets. The quarantine count and the
        insert/update/delete split ride the write action via
        ``observe``.

        ``hot_keys``: the salt set; None detects it from ``events`` (one
        sampled job), ``[]`` salts nothing.

        ``committed``: pass the ledger snapshot when applying many
        batches — the per-batch fallback re-walks the whole snapshot
        chain (one JSON parse per snapshot), O(batches × snapshots) over
        a long-lived table.
        """
        if committed is None:
            committed = self.table.committed_batch_ids()
        snap = self._evolve_if_needed(events)

        def hot() -> list[tuple[str, str]]:
            return hot_keys if hot_keys is not None else self.detect_hot_keys(events)

        b = self._plan(events, batch_id, lsn_lo, lsn_hi, snap, committed, hot)
        if isinstance(b, BatchReport):
            return b
        written = self._write(b, snap, self.table._alloc_commit_id(snap))
        return self._finish(b, written, expect_parent=snap.snapshot_id)

    # ------------------------------------------------------------- replay

    def replay(
        self,
        events: DataFrame,
        n_batches: int = 4,
        fail_after: int | None = None,
    ) -> list[BatchReport]:
        """Replay a change log in deterministic LSN-range micro-batches,
        with up to ``pipeline_depth`` batch writes in flight (1 in cow
        mode).

        Safe because MoR delta writes are independent: batch k's files land
        under its own pre-assigned commit sequence and stay invisible until
        the ordered ``mor_finalize`` flips the version hint — so writes
        race, the ledger serializes (the async-checkpoint shape). Commit
        order — and therefore the LWW ``_seq`` order and exactly-once
        resume — does not depend on the depth. Crash mid-pipeline leaves
        only uncommitted delta dirs: invisible to readers, re-done on
        resume, garbage-collected by ``expire_snapshots``.

        Why it pays: each batch has ~0.5-1s of driver-serial work (Catalyst
        analysis, AQE stage sync, commit bookkeeping) that a sequential
        loop adds to the critical path; overlapped behind the previous
        batch's cluster execution it disappears, which is the difference
        between ~0.4 and ~0.8+ N->4N scaling efficiency on short batches.

        Hot-key detection (one sampled cluster job, ~0.4 s at sf0.1) is
        likewise taken off the critical path: the first applied batch
        salts with the PRIOR run's recorded hot set (``_prior_hot_keys``
        warm start — empty on a fresh table) while this log's detection
        job runs concurrently with that batch's write; every later batch
        blocks on the detection future, long since finished by then. The
        final table state is identical whichever batches salt (salting
        only re-routes pre-MERGE collapse work), and each batch's
        manifest records the exact salt set it used.

        ``fail_after=k`` raises ``KilledError`` right after the k-th
        commit — the kill switch for resume tests. Writes still in flight
        finish and stay uncommitted, exactly like a crash. A rerun (new
        runner, same table+log) must skip the committed prefix and
        converge to the same final state.
        """
        # Footer-stats fast path: when the log came from
        # ``read_event_log`` the min/max LSN was already read from parquet
        # row-group statistics on the driver (microseconds) — no cluster
        # job. Anything else (filtered/limited/streaming DataFrames) falls
        # back to a real aggregation.
        lo_hi = getattr(events, "_adps_lsn_bounds", None)
        with step(self.spark, "runner.plan"):
            if lo_hi is None:
                lo_hi = events.agg(F.min("lsn"), F.max("lsn")).collect()[0]
            # no orderable LSNs at all. A truly empty log is a no-op, but
            # a non-empty all-null-lsn log must still flow through the
            # validate/quarantine path (not vanish with zero batches and
            # zero metrics) — same contract as the streaming bridge.
            empty = lo_hi[0] is None and events.limit(1).count() == 0
        if empty:
            return []
        if lo_hi[0] is None:
            return [
                self.apply_batch(events, "lsn:null-only", 0, 0, hot_keys=[])
            ]
        ranges = lsn_ranges(int(lo_hi[0]), int(lo_hi[1]), n_batches)
        # ledger snapshot ONCE per replay — batches this replay itself
        # commits can't be in the skip set
        committed = self.table.committed_batch_ids()
        # evolve once up front: the unified log schema is constant across
        # batches, so per-batch evolution checks are redundant
        base = self._evolve_if_needed(events)
        depth = self.pipeline_depth if self.mode == "mor" else 1
        compact_every = self.compact_every if self.mode == "mor" else None
        # commit ids come from the global allocator (snapshot ids are
        # table-global: sibling-branch commits or a crashed writer's
        # orphan claim may occupy ids above this ref's head), so they can
        # skip — each finalize expects the previous commit's actual id
        # as its parent, never commit_id - 1
        parent = base.snapshot_id
        next_commit = self.table._alloc_commit_id(base)
        reports: list[BatchReport | None] = [None] * len(ranges)
        inflight: list[tuple[int, _Batch, Future]] = []
        n_written = n_applied = 0
        hot: list[tuple[str, str]] | None = None  # None until first use
        hot_fut: Future | None = None

        def batch_hot() -> list[tuple[str, str]]:
            nonlocal hot, hot_fut
            if hot is None:
                # first applied batch: warm-start salt set + async
                # detection over the full log
                hot = self._prior_hot_keys()
                hot_fut = pool.submit(self.detect_hot_keys, events)
            elif hot_fut is not None:
                # REPLACE the warm-start set, don't union: unioning makes
                # the hot set monotone across runs (manifest -> warm start
                # -> union -> manifest), so a key hot once would stay
                # salted forever and any non-empty set forces the
                # two-stage collapse plan on every future batch
                hot = sorted(set(hot_fut.result()))
                hot_fut = None
            return hot

        def finish_oldest() -> None:
            nonlocal parent, n_applied
            idx, b, fut = inflight.pop(0)
            rep = self._finish(b, fut.result(), expect_parent=parent)
            reports[idx] = rep
            parent = rep.snapshot_id
            n_applied += 1
            if fail_after is not None and n_applied >= fail_after:
                raise KilledError(f"injected kill after {n_applied} batches")

        # one spare worker runs hot-key detection beside the writes.
        # Leaving the block waits for every task, so on any failure the
        # in-flight writes finish (their dirs stay uncommitted) and
        # neither they nor the detection job outlive replay(); an
        # unconsumed detection result (or error) is dropped, because
        # detection is advisory, never a replay failure
        with ThreadPoolExecutor(max_workers=depth + 1) as pool:
            for idx, (lo, hi) in enumerate(ranges):
                # LSN-range predicate pushes down to the event-log scan. A
                # NULL lsn falls outside EVERY (lo, hi] slice, so the first
                # batch adopts those rows — they are quarantine-bound (the
                # validity predicate requires a non-null lsn) and must be
                # counted, not silently excluded from all batches.
                in_range = (F.col("lsn") > lo) & (F.col("lsn") <= hi)
                if idx == 0:
                    in_range = in_range | F.col("lsn").isNull()
                b = self._plan(
                    events.filter(in_range), f"lsn:{lo}-{hi}", lo, hi,
                    base, committed, batch_hot,
                )
                if isinstance(b, BatchReport):
                    reports[idx] = b
                    continue
                inflight.append((idx, b, pool.submit(self._write, b, base, next_commit)))
                next_commit += 1
                n_written += 1
                # compaction claims the next commit id itself, so every
                # write with a pre-assigned id must commit before it runs
                compact_now = bool(compact_every) and n_written % compact_every == 0
                while len(inflight) > (0 if compact_now else depth - 1):
                    finish_oldest()
                if compact_now:
                    self.table.compact(summary={"run_id": self.run_id})
                    base = self.table.current_snapshot()
                    parent = base.snapshot_id
                    next_commit = self.table._alloc_commit_id(base)
            while inflight:
                finish_oldest()
        return reports

    def _prior_hot_keys(self) -> list[tuple[str, str]]:
        """Hot-key set recorded by the most recent committed batch
        manifest — the warm-start salt set for a replay's first batch,
        whose plan is built while this run's own detection job is still
        in flight. A continuous ingest always has a prior manifest, so at
        10^10-event scale batch 1 salts with the keys that were hot
        minutes ago — exactly the ones likeliest to still be hot.
        ``expire_snapshots`` keeps the newest set on the re-rooted
        snapshot when no kept commit records one. Salting is
        correctness-neutral either way."""
        for snap in self.table.snapshot_chain():
            keys = snap.summary.get("hot_keys")
            if keys is not None:
                return [
                    (parts[0], parts[1])
                    for k in keys
                    if len(parts := k.split("\x1f", 1)) == 2
                ]
        return []


def read_event_log(spark: SparkSession, *paths: str) -> DataFrame:
    """Read event-log segments with possibly-divergent (additively evolved)
    schemas as ONE scan — the engine's binlog tail.

    The unified schema is assembled on the driver from the parquet footers
    (milliseconds, no job) and handed to a single ``spark.read.schema(...)``:
    the vectorized reader null-fills columns a segment predates. Compared
    to a per-segment read + unionByName this halves the per-batch map jobs
    (a union's legs materialize as sequential AQE query stages) and keeps
    the plan tree small, which matters because Catalyst re-analyzes it for
    every micro-batch action — driver-serial time that caps scaling.

    The footer pass also records global min/max LSN from row-group
    statistics; ``replay`` picks it up and skips its bounds aggregation.
    """
    import glob as _glob
    import os

    import pyarrow.parquet as pq

    # pyarrow's ParquetFile takes a single concrete file — expand globs and
    # directories on the driver first (spark.read handles them natively,
    # the footer pass must match what the scan will read).
    def _expand(p: str) -> list[str]:
        # A segment may itself be a directory (Spark writes datasets as
        # directories of part files, even when named '*.parquet' —
        # possibly nested, e.g. partitionBy subdirectories). A directory
        # that contributes zero parquet files is an error, not a silent
        # exclusion: replay over an incomplete log must not look green.
        if os.path.isdir(p):
            out = sorted(
                os.path.join(dirpath, f)
                for dirpath, _dirs, fns in os.walk(p)
                for f in fns
                if f.endswith(".parquet")
            )
            if not out:
                raise FileNotFoundError(f"no parquet files under segment dir {p}")
            return out
        return [p]

    files: list[str] = []
    for p in paths:
        if _glob.has_magic(p):
            for m in sorted(_glob.glob(p)):
                if os.path.isdir(m) or m.endswith(".parquet"):
                    files.extend(_expand(m))
                    continue
                # a loose glob ('seg-dir/*') also matches _SUCCESS/.crc
                # markers — those are skippable, but any OTHER plain file
                # the user's glob matched is a WAL segment we can't read:
                # silently dropping it would make replay over an
                # incomplete log look green (the same failure the
                # empty-dir guard in _expand prevents).
                base = os.path.basename(m)
                if (
                    base == "_SUCCESS"
                    or base.endswith(".crc")
                    or base == "meta.json"
                    or base.startswith((".", "_"))
                ):
                    continue
                raise ValueError(
                    f"glob {p!r} matched non-parquet file {m!r}; WAL "
                    "segments must be parquet files or directories of "
                    "parquet files (marker files _SUCCESS/*.crc/"
                    "meta.json/dotfiles are skipped automatically)"
                )
        else:
            files.extend(_expand(p))
    if not files:
        raise FileNotFoundError(f"no parquet segments matched {paths!r}")

    fields: list[T.StructField] = []
    field_idx: dict[str, int] = {}  # name -> position in `fields`
    seen: dict[str, tuple] = {}  # name -> (widest dataType so far, its file)
    lsn_lo: int | None = None
    lsn_hi: int | None = None
    stats_valid = True
    from pyspark.sql.pandas.types import from_arrow_schema

    for p in files:
        pf = pq.ParquetFile(p)
        md = pf.metadata
        # schema from the SAME footer the stats pass already decoded —
        # one footer read per segment (a per-file spark.read.parquet here
        # would re-list, re-open, and re-decode every footer a second
        # time just to convert types the arrow schema already carries)
        try:
            spark_fields = from_arrow_schema(pf.schema_arrow).fields
        except Exception:
            spark_fields = spark.read.parquet(p).schema.fields
        for f in spark_fields:
            prev = seen.get(f.name)
            if prev is None:
                seen[f.name] = (f.dataType, p)
                field_idx[f.name] = len(fields)
                fields.append(T.StructField(f.name, f.dataType, True))
            elif prev[0] != f.dataType:
                # Retyped columns are legal exactly when the retype is a
                # LOSSLESS WIDENING (upstream ALTER COLUMN ... TYPE, e.g.
                # a counter outgrowing int32): the unified read schema
                # takes the wider type and the vectorized reader upcasts
                # the narrow segments — the same promotion matrix the
                # lake table's widen_columns uses, so _evolve_if_needed
                # widens the sink to match. Anything else fails fast with
                # the offending file instead of an opaque reader error
                # mid-replay.
                if is_lossless_widening(prev[0], f.dataType):
                    seen[f.name] = (f.dataType, p)
                    fields[field_idx[f.name]] = T.StructField(f.name, f.dataType, True)
                elif not is_lossless_widening(f.dataType, prev[0]):
                    raise ValueError(
                        f"segment schema conflict on column {f.name!r}: "
                        f"{prev[0].simpleString()} in {prev[1]} vs "
                        f"{f.dataType.simpleString()} in {p} (not a "
                        "lossless widening in either direction)"
                    )
        # Bounds are only trustworthy if EVERY row group of EVERY segment
        # has lsn min/max stats: one stats-less segment must poison the
        # whole fast path, or replay would slice LSN ranges that miss it.
        if not stats_valid:
            continue
        try:
            idx = md.schema.names.index("lsn")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    raise ValueError("no lsn stats")
                lsn_lo = st.min if lsn_lo is None else min(lsn_lo, st.min)
                lsn_hi = st.max if lsn_hi is None else max(lsn_hi, st.max)
        except (ValueError, KeyError):
            stats_valid = False
            lsn_lo = lsn_hi = None
    df = spark.read.schema(T.StructType(fields)).parquet(*files)
    if stats_valid and lsn_lo is not None:
        df._adps_lsn_bounds = (int(lsn_lo), int(lsn_hi))
    return df
