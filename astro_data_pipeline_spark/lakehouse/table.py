"""LakeTable — a minimal Iceberg-style snapshot table format on parquet.

No lake-format jars exist in this environment, so the engine carries its
own table format with exactly the properties the north rule needs:

- **atomic commits**: a snapshot JSON + an atomically-replaced version
  hint file; readers only ever see a fully-committed snapshot (the commit
  manifest of SURVEY.md §7 Phase 2 — Spark restatement of the reference's
  processing_jobs status ledger, ProcessingJob.java:27-233);
- **idempotency / exactly-once**: every commit stamps application
  properties (run_id, batch_id) into the snapshot summary, so a resumed
  job can skip already-committed batches (reference analog: retry
  preserving job_id, ProcessingJobService.java:142-164);
- **bucketed copy-on-write**: data files live under hash buckets of the
  merge key; a MERGE rewrites only touched buckets and carries the rest
  forward by reference — at 100 TB a batch touching 1% of keys rewrites
  ~1% of files (reference analog: the {type}_{YYYYMM} partition pruning,
  V2_1__Add_Processing_Context_Tables.sql:48-69);
- **additive schema evolution**: schema rides in the snapshot; ADD COLUMN
  is a metadata-only commit, old files read back with nulls via an
  explicit read schema (reference analog: Flyway additive migrations,
  V2_2__Add_Workflow_Versioning_Support.sql:9-18);
- **time travel / lineage**: the snapshot chain is retained until
  expired; each snapshot records per-bucket files and summary metrics,
  and ``lineage()`` is derived from that chain (no side file).

Concurrency contract: MANY WRITERS, many readers, optimistic (Iceberg
style — the reference gets write isolation for free from Postgres'
transactional MERGE via its HikariCP pools,
DatabaseOptimizationConfig.java, db_performance_test.py concurrent
personas; a lake table has no database underneath, so the engine
supplies the protocol itself). Every commit is a compare-and-swap on
the version hint: the publisher re-reads the head under a short flock
critical section and commits only if the head is still the snapshot it
planned against, else raises ``CommitConflictError`` and the caller
re-runs the whole operation against the new head
(``commit_with_retries``). Each attempt writes its data files under an
attempt-unique directory, so racing attempts never clobber each other's
parquet output; a losing attempt's files are unreferenced orphans that
``expire_snapshots`` collects (with an mtime grace window protecting
still-in-flight attempts). Readers never lock — they follow the hint.
On an object store the flock+hint CAS swaps for a catalog
compare-and-swap (Iceberg/Nessie style); nothing else changes.
Maintenance (``expire_snapshots``) assumes a single maintenance
process, like Iceberg's remove-orphan-files action.

Two merge strategies (both atomic, both exactly-once):

- **copy-on-write** (``merge``): a compaction of the touched buckets
  with the batch as their newest delta — one bucket-fused LWW resolve,
  rewrites touched buckets. Read-optimal; write cost O(touched data).
- **merge-on-read** (``merge_mor``): appends per-bucket delta files
  (upserts + tombstones) stamped with the commit sequence — write cost
  O(batch), zero join at write time. Readers resolve last-writer-wins by
  ``max_by(_seq)`` per key; ``compact()`` folds deltas back into base
  files. This is the 10^10-events/day shape: ingest never pays write
  amplification, compaction amortizes it in the background.

Layout::

    <root>/
      metadata/
        version-hint.txt        # main's head snapshot id (CAS'd = commit)
        ref-<name>.txt          # branch heads (write-audit-publish)
        commit.lock             # flock serializing every ref CAS
        snapshot-<id>.json
      data/
        commit-<id>-<tok>/_bucket=<k>/part-*.parquet  # CoW / compaction
        delta-<id>-<tok>/_bucket=<k>/part-*.parquet   # MoR delta commits

``LakeTable._write_buckets`` states the attempt-directory rule; only
the winning attempt's files enter the snapshot manifest.
``LakeTable._plan_read`` is the one statement of read-file selection:
every snapshot read (full, bucket, point, range, compaction, clustering)
scans the files it picks, and ``_read_plan`` resolves them. ``changes()``
scans the ``from`` snapshot's files ``_plan_read`` picks plus the
in-range delta files, which it picks by commit (``commit_files``), and
classifies them in the one ``_resolve`` aggregation a CoW merge uses.
``LakeTable._commit`` is the one commit point on the write side: every
commit but ``create``'s root and ``restore``'s child of its target takes
its id, its child snapshot and its compare-and-swap there. A bucket
rewrite (CoW merge, compaction, rebucket, clustering) builds its rows in
``_rewrite`` and edits the manifest with ``_rewritten``.
"""

from __future__ import annotations

import functools
import json
import operator
import contextlib
import fcntl
import os
import random
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import step
from . import stats as _stats

BUCKET_COL = "_bucket"
SEQ_COL = "_seq"  # commit sequence stamped into every data file
TOMBSTONE_COL = "_tombstone"
# flags the rows ``LakeTable._resolve`` applies as a batch onto the rest
BATCH_COL = "_in_batch"
# parquet-mr's adaptive bloom candidate sizes halve from the 1 MiB max
# filter (2^20 B) to the 32 B minimum bitset (2^5 B): at most 16 sizes
_BLOOM_CANDIDATES = 20 - 5 + 1


class CommitConflictError(RuntimeError):
    """Another writer advanced the table head between this commit's plan
    and its publish. The attempt's data files are orphans (collected by
    ``expire_snapshots``); re-run the whole operation against the new
    head — ``LakeTable.commit_with_retries`` does so automatically."""


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    schema_json: dict
    n_buckets: int
    key_cols: list[str]
    files: dict[str, list[str]]  # bucket (as str) -> relative file paths
    summary: dict[str, Any] = field(default_factory=dict)
    timestamp_ms: int = 0
    # merge-on-read delta files per bucket (resolved against `files` by _seq)
    delta_files: dict[str, list[str]] = field(default_factory=dict)
    # names ever dropped from the schema while their physical column may
    # still live in referenced data files (scans read by NAME, so
    # re-adding such a name would RESURRECT old values — add_columns
    # refuses it until a rebucket rewrites every file). Carried forward
    # commit-over-commit, so it survives snapshot expiry.
    dropped_cols: list[str] = field(default_factory=list)
    # active clustering spec ({"cols", "target_rows_per_file",
    # "zorder_bits"} or None): set by cluster_by, carried forward so
    # MAINTENANCE rewrites (compact, rebucket) keep restoring the sort
    # instead of silently degrading data skipping; cleared when a spec
    # column is dropped.
    cluster_spec: dict | None = None
    # per-BASE-file column min/max for planning-time scan pruning
    # (Iceberg-manifest / Delta data-skipping analog): rel path ->
    # {col: {"min","max"[,"nan_hidden"]} | {"allnull": True}}. Entries
    # may be MISSING (pre-stats files, unknown ranges) — missing means
    # "cannot prune", never "no rows", so staleness degrades safely.
    # Delta files never get entries (read_between must scan every delta
    # for LWW soundness).
    file_stats: dict[str, dict] = field(default_factory=dict)

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.schema_json)

    def child(self, *, summary: dict[str, Any], **overrides: Any) -> "Snapshot":
        """The next snapshot in the chain: every carried-forward field
        (schema, bucket spec, key cols, file lists, ``dropped_cols``)
        defaults to THIS snapshot's value and changes only by explicit
        override. Commit sites must build children through here — a
        hand-rolled ``Snapshot(...)`` that forgets one carried field
        silently resets an invariant (e.g. an empty ``dropped_cols``
        reopens the column-resurrection hazard with no test failing)."""
        base: dict[str, Any] = dict(
            snapshot_id=self.snapshot_id + 1,
            parent_id=self.snapshot_id,
            schema_json=self.schema_json,
            n_buckets=self.n_buckets,
            key_cols=self.key_cols,
            files=self.files,
            delta_files=self.delta_files,
            dropped_cols=self.dropped_cols,
            cluster_spec=self.cluster_spec,
            file_stats=self.file_stats,
            summary=summary,
            timestamp_ms=int(time.time() * 1000),
        )
        base.update(overrides)
        return Snapshot(**base)

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "schema": self.schema_json,
            "n_buckets": self.n_buckets,
            "key_cols": self.key_cols,
            "files": self.files,
            "summary": self.summary,
            "timestamp_ms": self.timestamp_ms,
            "delta_files": self.delta_files,
            "dropped_cols": self.dropped_cols,
            "cluster_spec": self.cluster_spec,
            "file_stats": self.file_stats,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d["parent_id"],
            schema_json=d["schema"],
            n_buckets=d["n_buckets"],
            key_cols=d["key_cols"],
            files=d["files"],
            summary=d.get("summary", {}),
            timestamp_ms=d.get("timestamp_ms", 0),
            delta_files=d.get("delta_files", {}),
            dropped_cols=d.get("dropped_cols", []),
            cluster_spec=d.get("cluster_spec"),
            file_stats=d.get("file_stats", {}),
        )


class _ReadPlan(NamedTuple):
    """The files one snapshot read scans (``LakeTable._plan_read``):
    the kept base files and every delta of the same buckets, as
    absolute paths, plus how many base files the stats pruned from."""

    base: list[str]
    deltas: list[str]
    base_total: int

    def report(self) -> dict:
        kept = len(self.base)
        return {
            "base_files": self.base_total,
            "kept": kept,
            "pruned": self.base_total - kept,
            "delta_files": len(self.deltas),
        }


def _widened(
    cur: Snapshot, widen: dict[str, T.DataType], added: list[T.StructField] | None = None
) -> dict[str, Any]:
    """Child-snapshot overrides (``schema_json``, ``file_stats``) for a
    metadata-only commit that widens ``widen`` (already validated
    lossless) and appends ``added``. File-stats bounds are encoded per
    TYPE FAMILY: integer widenings keep their encoding, but
    date→timestamp moves from epoch-days to epoch-micros — convert in
    place or read_between would compare a days-scale min/max against
    micros-scale bounds and prune wrong."""
    schema = T.StructType(
        [
            T.StructField(f.name, widen.get(f.name, f.dataType), f.nullable, f.metadata)
            for f in cur.schema.fields
        ]
        + (added or [])
    )
    day_to_us = {
        f.name
        for f in cur.schema.fields
        if isinstance(f.dataType, T.DateType)
        and isinstance(widen.get(f.name), T.TimestampNTZType)
    }
    stats = cur.file_stats
    if day_to_us:
        stats = {
            p: {
                c: (
                    {**s, "min": s["min"] * 86_400_000_000, "max": s["max"] * 86_400_000_000}
                    if c in day_to_us and not s.get("allnull")
                    else s
                )
                for c, s in e.items()
            }
            for p, e in cur.file_stats.items()
        }
    return {"schema_json": schema.jsonValue(), "file_stats": stats}


def _rewritten(
    root: str, cur: Snapshot, written: dict[str, list[str]], buckets: list[int] | None = None
) -> dict[str, Any]:
    """Child-snapshot overrides (``files``, ``delta_files``,
    ``file_stats``) for a commit that rewrote ``buckets`` (None: every
    bucket) of ``cur`` into ``written``: each named bucket's base files
    become its written files (a bucket with none written drops out) and
    its deltas drop, because the rewrite folded them in. Stats survive
    for the base files still referenced and are collected for the new
    ones, so the map never outgrows the live file set."""
    if buckets is None:
        files, deltas = {}, {}
    else:
        names = {str(b) for b in buckets}
        files = {b: fs for b, fs in cur.files.items() if b not in names}
        deltas = {b: fs for b, fs in cur.delta_files.items() if b not in names}
    files.update(written)
    live = {p for fs in files.values() for p in fs}
    stats = {p: e for p, e in cur.file_stats.items() if p in live}
    new_rels = [p for fs in written.values() for p in fs]
    stats.update(_stats.collect_file_stats(root, new_rels, cur.schema))
    return {"files": files, "delta_files": deltas, "file_stats": stats}


def commit_files(snap: Snapshot) -> dict[str, list[str]]:
    """The files ``snap``'s own commit wrote, per bucket (numeric bucket
    order): the entries of ``files`` and ``delta_files`` that lie under
    its attempt directories (see ``LakeTable._write_buckets``), plus the
    pre-token ``<kind>-<id>/`` layout still on disk in tables written by
    earlier engine versions. The ``-`` / separator requirement keeps
    ``delta-5`` from matching ``delta-51``."""
    prefixes = tuple(
        os.path.join("data", f"{kind}-{snap.snapshot_id}") + sep
        for kind in ("commit", "delta")
        for sep in ("-", os.sep)
    )
    out: dict[str, list[str]] = {}
    for by_bucket in (snap.files, snap.delta_files):
        for b, rels in by_bucket.items():
            mine = [p for p in rels if p.startswith(prefixes)]
            if mine:
                out.setdefault(b, []).extend(mine)
    return dict(sorted(out.items(), key=lambda kv: int(kv[0])))


def ledger_records(snap: Snapshot):
    """The exactly-once ledger records ``snap`` carries, as dicts of the
    ``batch_id``, ``run_scope`` and ``lsn_hi`` its summary holds: its own
    batch (if it has one), then the ``inherited_batches`` that
    ``expire_snapshots`` folded into it from expired snapshots. ``lsn_hi``
    is the source position the commit applied through: the WAL LSN for
    replay batches and stream epochs, the source snapshot id (the
    changelog's offset) for view refreshes and replica syncs."""
    if snap.summary.get("batch_id") is not None:
        yield {
            k: snap.summary[k]
            for k in ("batch_id", "run_scope", "lsn_hi")
            if k in snap.summary
        }
    yield from snap.summary.get("inherited_batches", [])


class Ledger(NamedTuple):
    """What one run scope has applied, as of one snapshot
    (``LakeTable.ledger``): its committed batch ids and its high-water
    mark, the largest non-negative ``lsn_hi`` among them (None if no
    commit recorded one)."""

    batch_ids: set
    lsn_hi: int | None


# ---------------------------------------------------- snapshot-chain reads
# The one place the metadata format is read: ref files, snapshot JSON and
# the parent-link walk. Spark-free, so changelog readers running in
# Python data-source workers (no SparkSession) share it with LakeTable.


def _ref_path(meta: str, ref: str) -> str:
    name = "version-hint.txt" if ref == "main" else f"ref-{ref}.txt"
    return os.path.join(meta, name)


def _snapshot_path(meta: str, sid: int) -> str:
    return os.path.join(meta, f"snapshot-{sid}.json")


def read_hint(meta: str, ref: str) -> int | None:
    """Head snapshot id of ``ref`` (None if the ref does not exist)."""
    try:
        with open(_ref_path(meta, ref)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def read_snapshot(meta: str, sid: int | None) -> Snapshot | None:
    """Snapshot ``sid`` (None if the id is None, never committed, or
    expired)."""
    if sid is None:
        return None
    try:
        with open(_snapshot_path(meta, sid)) as f:
            return Snapshot.from_json(json.load(f))
    except FileNotFoundError:
        return None


def commits_between(meta: str, from_id: int | None, to_id: int) -> list[Snapshot]:
    """The commits in ``(from_id, to_id]`` on ``to_id``'s parent chain,
    oldest first; ``from_id=None`` means the whole retained chain. Every
    snapshot-range question (``changes``, ``restore``, ``fast_forward``,
    ``snapshot_chain``, the changelog stream source) is answered here.

    Safety contract (one ``ValueError`` per refused case):

    - The range is resolved by WALKING PARENT LINKS from ``to_id``,
      never by iterating raw snapshot ids — ids are allocated globally
      across refs, so id iteration would pick up other branches' commits
      (an audit-failed WAP batch that was never published).
    - The walk must LAND on ``from_id``. A ``from_id`` the walk steps
      past (a branch commit, any non-ancestor id between two chain ids,
      or an id ahead of ``to_id``) is "not an ancestor": resolving it to
      the nearest ancestor below would re-deliver commits the caller
      believes it already has.
    - A ``from_id`` undone by a restore is named as such: a restore
      re-parents the chain onto its target, which is the one legitimate
      way a previously valid offset stops being an ancestor. Its rows
      cannot be retracted through a changelog — re-seed from the
      restored state.
    - Expired history inside the range raises (Delta/Iceberg refuse an
      unretained start version the same way); genuine data loss is never
      dressed up as a benign id gap. The chain root closes the range
      only if it is ``from_id + 1`` or older (``from_id=0`` on an
      unexpired table is "full history")."""
    chain: list[Snapshot] = []
    stop = -1 if from_id is None else from_id
    sid = to_id
    while sid > stop:
        snap = read_snapshot(meta, sid)
        if snap is None:
            raise ValueError(
                f"snapshot {sid} on the path back from {to_id} is no longer "
                "retained (expired): the range cannot be proven complete; "
                "start from a live snapshot (or raise keep_last)"
            )
        chain.append(snap)
        if snap.parent_id is None:
            if from_id is None or snap.snapshot_id <= stop + 1:
                break
            raise ValueError(
                f"snapshot {from_id} predates the retained chain (oldest "
                f"kept snapshot is {snap.snapshot_id}) — history before "
                "it has been expired"
            )
        sid = snap.parent_id
    else:
        if sid != stop:
            if any(s.summary.get("operation") == "restore" for s in chain):
                raise ValueError(
                    f"snapshot {from_id} is not an ancestor of {to_id}: it "
                    f"was undone by a restore in ({sid}, {to_id}] — its rows "
                    "cannot be retracted through a changelog; re-seed the "
                    "consumer from the restored state"
                )
            past = (
                f"the parent walk steps from {chain[-1].snapshot_id} past it to {sid}"
                if chain
                else "it is ahead of the end of the range"
            )
            raise ValueError(f"snapshot {from_id} is not an ancestor of {to_id}: {past}")
    chain.reverse()
    return chain


# operations that change no logical rows: a changelog passes through
# them. A restore is transparent too — a consumer whose offset it undid
# fails the commits_between walk first.
_TRANSPARENT_OPS = frozenset(
    {
        "create",
        "compact",
        "rebucket",
        "cluster",
        "add-columns",
        "widen-columns",
        "drop-columns",
        "evolve",
        "restore",
    }
)


def changelog_commits(chain: list[Snapshot]) -> list[Snapshot]:
    """The commits of ``chain`` that carry a row-level changelog (their
    merge-on-read delta files, ``commit_files``). Maintenance and schema
    commits fold or reshape rows a changelog already carries and are
    skipped. A copy-on-write ``merge`` — or any operation not known here
    — is refused: no row-level changelog, and assuming an unknown
    operation row-free would silently corrupt downstream state."""
    out = []
    for snap in chain:
        op = snap.summary.get("operation")
        if op == "merge-mor":
            out.append(snap)
        elif op not in _TRANSPARENT_OPS:
            raise ValueError(
                f"snapshot {snap.snapshot_id} is operation {op!r}, which "
                "keeps no row-level changelog (a copy-on-write merge "
                "rewrites whole buckets) — use merge-on-read ingest for "
                "tables read as a changelog"
            )
    return out


def bucket_expr(key_cols: list[str], n_buckets: int) -> F.Column:
    """Deterministic hash bucket of the merge key (stable across commits)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")


def observed_metrics(obs, source: DataFrame, aggs: list[F.Column]) -> dict[str, int]:
    """The metrics ``obs`` (an ``Observation`` of ``aggs`` over
    ``source``) gathered during a write — or, when it cannot deliver, the
    same aggregates recomputed over ``source`` (one extra job, on rare
    paths only). ``obs.get`` raises when the optimizer pruned the observe
    node or the write's filtered input was empty; it blocks forever when
    no action ever ran over the observed plan, so call it only after the
    write that executes ``source``."""
    try:
        return {k: int(v) for k, v in obs.get.items()}
    except Exception:
        pass
    row = source.agg(*aggs).collect()[0]
    return {k: int(v) for k, v in row.asDict().items()}


# Lossless type promotions the parquet reader performs on scan (the
# Iceberg v3 / Delta type-widening matrix restricted to what Spark 4's
# vectorized reader upcasts natively — verified in tests/test_type_widening).
_WIDEN_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def null_safe_join(
    left: DataFrame, right: DataFrame, cols: list[str], how: str
) -> DataFrame:
    """Join on ``cols`` with NULL-safe key equality (``<=>``): a NULL
    key/group value is legitimate (the merge resolves a NULL key by
    GROUP BY, which groups NULLs together), so every
    state-maintenance join must match it too — a plain USING join would
    classify each NULL-key row as brand-new and silently reset or drop
    its stored state. For non-semi joins the key columns are kept from
    the LEFT side; the two sides' non-key column names must be
    disjoint. ``<=>`` is still an equi-join key for the planner (no
    fallback to a nested-loop join).

    ``how`` is restricted to join types where left-side keys are total:
    an outer ``full``/``right`` join would give right-only rows NULL
    keys here and silently corrupt them — refuse rather than corrupt."""
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(
            f"null_safe_join: unsupported how={how!r} (keys are taken "
            "from the left side, so full/right outer joins would emit "
            "NULL keys for right-only rows); coalesce keys explicitly "
            "if an outer join is ever needed"
        )
    l, r = left.alias("_l"), right.alias("_r")
    cond = functools.reduce(
        operator.and_,
        [F.col(f"_l.{c}").eqNullSafe(F.col(f"_r.{c}")) for c in cols],
    )
    j = l.join(r, cond, how)
    if how in ("left_semi", "left_anti"):
        return j
    keep = [F.col(f"_l.{c}").alias(c) for c in cols]
    keep += [F.col(f"_l.{c}").alias(c) for c in left.columns if c not in cols]
    keep += [F.col(f"_r.{c}").alias(c) for c in right.columns if c not in cols]
    return j.select(*keep)


def is_lossless_widening(old_t: T.DataType, new_t: T.DataType) -> bool:
    if isinstance(old_t, _WIDEN_INTEGRAL) and isinstance(new_t, _WIDEN_INTEGRAL):
        return _WIDEN_INTEGRAL.index(type(old_t)) < _WIDEN_INTEGRAL.index(type(new_t))
    # every int32-or-smaller value is exactly representable as a double;
    # long -> double is NOT (53-bit mantissa) and stays refused
    if isinstance(old_t, (T.ByteType, T.ShortType, T.IntegerType, T.FloatType)):
        if isinstance(new_t, T.DoubleType):
            return True
    if isinstance(old_t, T.DateType) and isinstance(new_t, T.TimestampNTZType):
        return True
    if isinstance(old_t, T.DecimalType) and isinstance(new_t, T.DecimalType):
        # integer digits must not shrink, scale must not shrink
        return (
            new_t.scale >= old_t.scale
            and new_t.precision - new_t.scale >= old_t.precision - old_t.scale
            and (new_t.precision, new_t.scale) != (old_t.precision, old_t.scale)
        )
    return False


class LakeTable:
    _REF_RE = r"[A-Za-z0-9._-]+"

    def __init__(self, spark: SparkSession, root: str, ref: str = "main"):
        import re

        if not re.fullmatch(self._REF_RE, ref):
            raise ValueError(f"invalid ref name {ref!r}")
        self.spark = spark
        self.root = root
        self.ref = ref
        self._meta = os.path.join(root, "metadata")
        self._data = os.path.join(root, "data")

    def _ref_file(self, ref: str | None = None) -> str:
        return _ref_path(self._meta, ref if ref is not None else self.ref)

    # ------------------------------------------------------------- create

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 16,
    ) -> "LakeTable":
        t = cls(spark, root)
        if t.exists():
            # re-creating over a live table would reset the hint to
            # snapshot 1 while the old incarnation's higher-id snapshot
            # JSONs and data files survive — snapshot()/time travel would
            # then mix two tables' histories. Load it or pick a new root.
            raise FileExistsError(
                f"table already exists at {root}; use LakeTable.load"
            )
        os.makedirs(t._meta, exist_ok=True)
        os.makedirs(t._data, exist_ok=True)
        snap = Snapshot(
            snapshot_id=1,
            parent_id=None,
            schema_json=schema.jsonValue(),
            n_buckets=n_buckets,
            key_cols=key_cols,
            files={},
            summary={"operation": "create"},
            timestamp_ms=int(time.time() * 1000),
        )
        t._publish(snap, expected_head=None)
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str, ref: str = "main") -> "LakeTable":
        t = cls(spark, root, ref=ref)
        if t.current_snapshot() is None:
            raise FileNotFoundError(f"no committed snapshot for ref {ref!r} at {root}")
        return t

    def exists(self) -> bool:
        return os.path.exists(self._ref_file("main"))

    # ------------------------------------------------------------ branches

    def branch(self, name: str) -> "LakeTable":
        """View of this table whose head is branch ``name`` (must exist —
        ``create_branch`` first). Every operation works on a branch view:
        merges, schema evolution, restore, time travel, the replay
        runner's exactly-once ledger (``ledger`` walks the
        branch's chain, which shares main's history up to the fork)."""
        t = LakeTable(self.spark, self.root, ref=name)
        if t.current_snapshot() is None:
            raise FileNotFoundError(f"no branch {name!r} at {self.root}")
        return t

    def create_branch(
        self, name: str, from_snapshot_id: int | None = None
    ) -> "LakeTable":
        """Fork a branch at ``from_snapshot_id`` (default: this view's
        head) — the write half of WRITE-AUDIT-PUBLISH (Iceberg branch /
        WAP analog; the reference stages ingest into staging-schema
        tables and promotes after validation, the quality-verification
        DAG pattern): replay suspect batches onto the branch, run audits
        against the branch view, then ``fast_forward`` main when they
        pass. Metadata-only: a ref file naming a head; snapshots and
        data files are shared with every other ref."""
        if name == "main":
            raise ValueError("'main' is reserved")
        target = LakeTable(self.spark, self.root, ref=name)  # validates name
        sid = (
            from_snapshot_id
            if from_snapshot_id is not None
            else read_hint(self._meta, self.ref)
        )
        if read_snapshot(self._meta, sid) is None:
            raise ValueError(f"unknown fork snapshot {sid}")
        with self._commit_lock():
            if read_hint(self._meta, name) is not None:
                raise ValueError(f"branch {name!r} already exists")
            self._atomic_write(self._ref_file(name), str(sid))
        return target

    def refs(self) -> dict[str, int]:
        """Every ref -> head snapshot id (``main`` plus branches)."""
        out: dict[str, int] = {}
        for fn in sorted(os.listdir(self._meta)):
            if fn == "version-hint.txt":
                out["main"] = read_hint(self._meta, "main")
            elif fn.startswith("ref-") and fn.endswith(".txt"):
                name = fn[len("ref-"):-len(".txt")]
                out[name] = read_hint(self._meta, name)
        return out

    def drop_branch(self, name: str) -> None:
        """Remove a branch ref. Snapshots/files it alone referenced
        become expirable (``expire_snapshots`` runs again once no
        branches remain)."""
        if name == "main":
            raise ValueError("cannot drop 'main'")
        with self._commit_lock():
            try:
                os.remove(self._ref_file(name))
            except FileNotFoundError:
                raise ValueError(f"no branch {name!r} at {self.root}") from None

    def branch_diff(self, name: str) -> DataFrame:
        """The audit surface of WAP: the net per-key change a
        ``fast_forward`` publish of branch ``name`` would apply to this
        view — ``changes()`` from this head to the branch head. The
        ancestor guard inside ``changes`` raises on a diverged main
        (publish would conflict anyway), and the merge-on-read
        requirement matches the branch ingest path."""
        b = read_hint(self._meta, name)
        if b is None:
            raise ValueError(f"unknown branch {name!r}")
        head = read_hint(self._meta, self.ref)
        if head is None:
            raise FileNotFoundError(f"no committed snapshot at {self.root}")
        return self.changes(head, b)

    def fast_forward(self, source_ref: str, target_ref: str | None = None) -> Snapshot:
        """PUBLISH: atomically advance ``target_ref`` (default: this
        view's ref) to ``source_ref``'s head — the audit-passed WAP
        promotion. Requires the target's current head to be an ANCESTOR
        of the source head (a true fast-forward): if the target moved
        since the fork, the branch no longer contains its history and
        publishing would silently drop commits — that raises
        CommitConflictError instead (re-fork, re-apply, re-audit; same
        re-run rule as every other conflict). One CAS under the commit
        lock, shared with every other committer."""
        target_ref = target_ref if target_ref is not None else self.ref
        src_head = read_hint(self._meta, source_ref)
        if src_head is None:
            raise ValueError(f"unknown ref {source_ref!r}")
        with self._commit_lock():
            tgt_head = read_hint(self._meta, target_ref)
            if tgt_head is None:
                raise ValueError(f"unknown ref {target_ref!r}")
            try:
                commits_between(self._meta, tgt_head, src_head)
            except ValueError as e:
                raise CommitConflictError(
                    f"ref {target_ref!r} at {tgt_head} is not an ancestor of "
                    f"{source_ref!r} at {src_head}: not a fast-forward"
                ) from e
            self._atomic_write(self._ref_file(target_ref), str(src_head))
        return read_snapshot(self._meta, src_head)

    # ---------------------------------------------------------- snapshots

    def current_snapshot(self) -> Snapshot | None:
        """This ref's head (None before the first commit). A ref naming a
        missing snapshot file raises: a table must never look empty
        because its head snapshot vanished."""
        sid = read_hint(self._meta, self.ref)
        if sid is None:
            return None
        snap = read_snapshot(self._meta, sid)
        if snap is None:
            raise FileNotFoundError(
                f"ref {self.ref!r} names snapshot {sid}, missing from {self._meta}"
            )
        return snap

    def _head(self, snapshot: Snapshot | None = None) -> Snapshot:
        """``snapshot`` when the caller holds one, else this ref's head;
        raises on a table with no commit."""
        snap = snapshot or self.current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot at {self.root}")
        return snap

    def snapshot(self, snapshot_id: int) -> Snapshot:
        """Public snapshot-by-id accessor (time travel): the metadata to
        hand to ``read(snapshot=...)``. Raises on an unknown id."""
        snap = read_snapshot(self._meta, snapshot_id)
        if snap is None:
            raise FileNotFoundError(f"no snapshot {snapshot_id} in {self._meta}")
        return snap

    def snapshot_chain(self) -> list[Snapshot]:
        """Current snapshot back to root (most recent first)."""
        head = read_hint(self._meta, self.ref)
        return [] if head is None else commits_between(self._meta, None, head)[::-1]

    def snapshot_as_of(self, ts_ms: int) -> Snapshot:
        """Time travel by TIMESTAMP (Iceberg/Delta ``AS OF TIMESTAMP``
        analog): the latest snapshot committed at or before ``ts_ms``.
        Raises if the table did not exist yet, or if the requested point
        has been expired out of the retained chain (reading an expired
        point would silently return a NEWER state than asked for)."""
        best: Snapshot | None = None
        oldest: Snapshot | None = None
        for s in self.snapshot_chain():  # newest -> oldest
            oldest = s
            if s.timestamp_ms <= ts_ms:
                best = s
                break
        if best is not None:
            return best
        # expire_snapshots re-roots the kept chain (parent link cut), so
        # a truncated history is recognized by its oldest retained
        # snapshot not being the original 'create' root
        if oldest is not None and oldest.summary.get("operation") != "create":
            raise ValueError(
                f"no retained snapshot at or before ts={ts_ms}: history "
                f"older than snapshot {oldest.snapshot_id} "
                f"(ts={oldest.timestamp_ms}) has been expired"
            )
        raise ValueError(
            f"no snapshot at or before ts={ts_ms}: table history starts "
            f"at ts={oldest.timestamp_ms if oldest else 'never'}"
        )

    def history(self) -> DataFrame:
        """The retained snapshot chain as a DataFrame (Delta ``DESCRIBE
        HISTORY`` analog): one row per commit, newest first — id, parent,
        operation, timestamp, bucket count, file/delta counts, and the
        full summary as a map for operation-specific fields (batch ids,
        rows applied, widened/dropped columns)."""
        rows = [
            {
                "snapshot_id": s.snapshot_id,
                "parent_id": s.parent_id,
                "operation": str(s.summary.get("operation")),
                "timestamp_ms": s.timestamp_ms,
                "n_buckets": s.n_buckets,
                "n_files": sum(len(v) for v in s.files.values()),
                "n_delta_files": sum(len(v) for v in s.delta_files.values()),
                "dropped_cols": list(s.dropped_cols),
                "summary": {k: str(v) for k, v in s.summary.items()},
            }
            for s in self.snapshot_chain()
        ]
        schema = T.StructType(
            [
                T.StructField("snapshot_id", T.LongType(), False),
                T.StructField("parent_id", T.LongType(), True),
                T.StructField("operation", T.StringType(), True),
                T.StructField("timestamp_ms", T.LongType(), False),
                T.StructField("n_buckets", T.IntegerType(), False),
                T.StructField("n_files", T.IntegerType(), False),
                T.StructField("n_delta_files", T.IntegerType(), False),
                T.StructField("dropped_cols", T.ArrayType(T.StringType()), False),
                T.StructField("summary", T.MapType(T.StringType(), T.StringType()), False),
            ]
        )
        return self.spark.createDataFrame(rows, schema)

    def ledger(
        self, run_scope: str | None = None, snapshot: Snapshot | None = None
    ) -> Ledger:
        """The exactly-once ledger of ``run_scope`` (default: every scope)
        as of ``snapshot`` (default: this ref's head), from one chain walk
        over every ``ledger_records`` entry: replay resume, stream epochs,
        view refreshes and replica syncs all read it here. Expiry folds
        expired commits' records into ``inherited_batches``, so neither
        the batch ids nor the mark is capped by retention; a restore drops
        the undone commits' records. The largest mark is the newest one
        because every ledgered commit compare-and-swaps on the head it
        read its mark from."""
        head = (
            read_hint(self._meta, self.ref) if snapshot is None else snapshot.snapshot_id
        )
        chain = [] if head is None else commits_between(self._meta, None, head)
        records = [
            r
            for snap in chain
            for r in ledger_records(snap)
            if run_scope is None or r.get("run_scope") == run_scope
        ]
        marks = [int(r["lsn_hi"]) for r in records if r.get("lsn_hi") is not None]
        hi = max((m for m in marks if m >= 0), default=None)
        return Ledger({r["batch_id"] for r in records}, hi)

    def committed_batch_ids(self, run_scope: str | None = None) -> set:
        """Batch ids already durably applied (exactly-once resume check):
        ``ledger(run_scope).batch_ids``."""
        return self.ledger(run_scope).batch_ids

    def _atomic_write(self, path: str, payload: str) -> None:
        """Durable atomic file publish: write temp, fsync the DATA, rename,
        fsync the directory. Without the fsyncs a power loss after the
        rename can leave the name pointing at truncated bytes (rename
        journaled, data not flushed) — the hint would then reference an
        unreadable snapshot, breaking the 'readers only ever see a fully
        committed snapshot' contract."""
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        dfd = os.open(os.path.dirname(path), os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def _write_snapshot(self, snap: Snapshot) -> None:
        self._atomic_write(
            _snapshot_path(self._meta, snap.snapshot_id), json.dumps(snap.to_json())
        )

    def _commit_hint(self, sid: int) -> None:
        """Atomic rename of this view's ref file — main's version hint or
        a branch ref (call via ``_publish`` — the bare rename is
        last-writer-wins and multi-writer UNSAFE)."""
        self._atomic_write(self._ref_file(), str(sid))

    @contextlib.contextmanager
    def _commit_lock(self):
        """Short advisory-lock critical section serializing hint CAS on
        this host (flock releases on process death — a crashed committer
        never wedges the table). On an object store this swaps for the
        catalog's own compare-and-swap."""
        lf = open(os.path.join(self._meta, "commit.lock"), "a+")
        try:
            fcntl.flock(lf, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(lf, fcntl.LOCK_UN)
            lf.close()

    def _max_snapshot_file_id(self) -> int:
        mx = 0
        for fn in os.listdir(self._meta):
            if fn.startswith("snapshot-") and fn.endswith(".json"):
                try:
                    mx = max(mx, int(fn[len("snapshot-"):-len(".json")]))
                except ValueError:
                    continue
        return mx

    def _alloc_commit_id(self, cur: Snapshot) -> int:
        """Next snapshot id: greater than the parent AND every snapshot
        file on disk. Ids are GLOBAL across refs — branches fork the
        chain, so naive parent+1 would let a main commit and a branch
        commit claim the same id and one would overwrite the other's
        snapshot file. Skipping every existing file also skips orphan
        claims left by writers that crashed pre-publish, so conflict
        retries can never livelock on a dead writer's id. Monotonic
        along any chain (child id > parent id), which is all the
        ``_seq``-based LWW ordering needs."""
        return max(cur.snapshot_id, self._max_snapshot_file_id()) + 1

    def _publish(self, snap: Snapshot, *, expected_head: int | None) -> None:
        """The compare-and-swap under every commit (``_commit``),
        multi-writer safe: swap this view's ref (main's version hint or
        a branch ref). Commits only
        if the ref still names ``expected_head`` (the snapshot the
        operation planned against) AND the snapshot id is unclaimed;
        otherwise raises :class:`CommitConflictError` — the operation
        must re-run against the new head, because its data files bake in
        a ``_seq`` equal to its claimed commit id and its writes were
        planned against the stale base (``commit_with_retries`` wraps
        this loop).

        Snapshot files are NEVER overwritten: ids are global across
        refs, so an existing file may be another ref's live commit (or a
        concurrent claim of the same id) — both are conflicts. A writer
        dying after the snapshot-JSON write but before the ref flip
        leaves an orphan file whose id ``_alloc_commit_id`` skips and
        ``expire_snapshots`` removes; the ref is the only commit
        point."""
        with self._commit_lock():
            head = read_hint(self._meta, self.ref)
            if head != expected_head:
                raise CommitConflictError(
                    f"ref {self.ref!r} moved: planned against {expected_head}, "
                    f"found {head} while committing snapshot "
                    f"{snap.snapshot_id} ({snap.summary.get('operation')})"
                )
            if os.path.exists(_snapshot_path(self._meta, snap.snapshot_id)):
                raise CommitConflictError(
                    f"snapshot id {snap.snapshot_id} already claimed "
                    "(another ref's commit or a concurrent writer)"
                )
            self._write_snapshot(snap)
            self._commit_hint(snap.snapshot_id)

    def _commit(
        self, cur: Snapshot, summary: dict, *, commit_id: int | None = None, **overrides: Any
    ) -> Snapshot:
        """THE commit point: publish ``cur.child(**overrides)`` as the new
        head, compare-and-swapped against ``cur`` (the snapshot the
        operation planned on). The id is allocated here unless the caller
        wrote data files under a pre-assigned one, which must outrank
        ``cur``: ``_seq``-based LWW needs every commit to beat everything
        it supersedes (ids may SKIP over other refs' commits)."""
        if commit_id is None:
            commit_id = self._alloc_commit_id(cur)
        elif commit_id <= cur.snapshot_id:
            raise CommitConflictError(
                f"non-monotonic commit {commit_id} onto {cur.snapshot_id}"
            )
        snap = cur.child(snapshot_id=commit_id, summary=summary, **overrides)
        self._publish(snap, expected_head=cur.snapshot_id)
        return snap

    def commit_with_retries(
        self,
        op,
        attempts: int = 6,
        base_backoff_s: float = 0.05,
    ):
        """Run a committing operation (a zero-arg callable wrapping e.g.
        ``merge`` / ``merge_mor``), re-running it from scratch on
        :class:`CommitConflictError` with jittered exponential backoff.
        Re-running — not just re-pointing — is required: each attempt's
        delta rows carry ``_seq`` = its claimed commit id, and a CoW
        attempt joined against the superseded base."""
        for i in range(attempts):
            try:
                return op()
            except CommitConflictError:
                if i == attempts - 1:
                    raise
                time.sleep(base_backoff_s * (2**i) * (0.5 + random.random()))

    # -------------------------------------------------------------- write

    def _write_opts(self, snap: Snapshot) -> dict[str, str]:
        """Per-write parquet options: a bloom filter on every merge-key
        column, always.

        Point lookups filter on exact key equality, but hash bucketing
        scatters key VALUES uniformly across every file in the bucket —
        min/max stats can never prune them (the reference leans on
        B-tree/GIN indexes for this, DatabaseOptimizationConfig.java;
        a lake table's equivalent is the parquet bloom filter). With
        blooms, the parquet reader drops whole row groups whose filter
        misses the pushed-down key literal before touching a data page.
        Only the Spark ``read_key`` path consults them; pyarrow's
        ``filters`` (``read_key_local``) prune on min/max stats only.

        ``adaptive`` keeps a set of candidate filters per key column and
        writes the smallest one that holds the row group's observed NDV
        at the default 1% FPP. Candidate sizes halve from the 1 MiB max
        (2^20 B), and parquet-mr defaults to 5 of them, which floors
        every filter at 64 KiB — on a small-batch delta of ~100 rows that
        floor was most of the file. ``_BLOOM_CANDIDATES`` = 16 lets the
        ladder run down to the 32 B minimum bitset (2^5 B), so each
        filter is sized to the file it sits in. parquet-mr's builder
        itself stops at the smallest size that holds one 500-NDV step
        of its sizing loop, 1 KiB at 1% FPP, so filters span 1 KiB to
        1 MiB. parquet-mr reads the count only in its per-column form
        (``...candidates.number#<col>``); the bare key is ignored."""
        opts = {"parquet.bloom.filter.adaptive.enabled": "true"}
        for c in snap.key_cols:
            opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
            opts[f"parquet.bloom.filter.candidates.number#{c}"] = str(_BLOOM_CANDIDATES)
        return opts

    # --------------------------------------------------------------- read

    def _internal_schema(self, snap: Snapshot) -> T.StructType:
        return snap.schema.add(T.StructField(SEQ_COL, T.LongType(), True)).add(
            T.StructField(TOMBSTONE_COL, T.BooleanType(), True)
        )

    def _scan(self, snap: Snapshot, paths: list[str], with_internals: bool) -> DataFrame:
        """Scan files with the snapshot's explicit schema: missing columns
        (pre-evolution files) null-fill, extra file columns drop — no
        mergeSchema footer-inference pass."""
        schema = self._internal_schema(snap) if with_internals else snap.schema
        if not paths:
            return self.spark.createDataFrame([], schema)
        # over 32 paths, Spark lists them with a job of its own
        with step(self.spark, "table.scan"):
            return self.spark.read.schema(schema).parquet(*paths)

    def _resolve(
        self, df: DataFrame, key_cols: list[str], n_buckets: int | None = None,
        preimage: bool = False,
    ) -> DataFrame:
        """Merge-on-read resolution: last writer per key by commit sequence
        (max_by hash-agg — partial combine, skew-tolerant), tombstones
        dropped. The same LWW primitive the CDC collapse uses (W1). The
        value columns are the rows' own (every column but the keys and
        the internals), so a caller that projects its rows never shuffles
        the columns it dropped.

        ``n_buckets``: prepend the storage bucket under that count to the
        grouping and hash-repartition on it first — the repartition's
        distribution satisfies the aggregation's required clustering
        (bucket is a function of the keys), so resolution + bucket
        alignment for a partitioned write share ONE shuffle. Same fusion
        as the ingest collapse; without it a resolve-then-write pays two
        full passes of the table through the exchange.

        Rows carrying ``BATCH_COL`` are a batch applied onto the unflagged
        rows (a CoW merge's batch, ``changes()``' in-range deltas): the
        winner ranks by (flag, ``_seq``), so no commit-id order across
        the two sets is assumed; tombstoned winners stay, as
        ``_tombstone``; and the result adds ``_in_batch`` (a flagged row
        names the key) and ``_existed`` (the key's newest unflagged row is
        live), plus with ``preimage`` that row's values as ``_pre_<c>``
        (NULL unless it existed)."""
        internals = {SEQ_COL, TOMBSTONE_COL, BATCH_COL, BUCKET_COL}
        val_cols = [c for c in df.columns if c not in key_cols and c not in internals]
        batched = BATCH_COL in df.columns
        seq = F.coalesce(F.col(SEQ_COL), F.lit(0))
        w = F.struct(*[F.col(c) for c in val_cols], F.col(TOMBSTONE_COL))
        bkt: list[F.Column] = []
        if n_buckets is not None:
            df = df.withColumn(BUCKET_COL, bucket_expr(key_cols, n_buckets)).repartition(
                F.col(BUCKET_COL)
            )
            bkt = [F.col(BUCKET_COL)]
        aggs = [F.max_by(w, seq).alias("_w")]
        pre = val_cols if preimage else []
        if batched:
            flag = F.col(BATCH_COL)
            live = ~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
            prior = F.struct(live.alias("_existed"), *[F.col(c) for c in pre])
            aggs = [
                F.max_by(w, F.struct(flag, seq)).alias("_w"),
                F.max(flag).alias(BATCH_COL),
                F.max_by(prior, F.when(~flag, seq)).alias("_prior"),
            ]
        resolved = df.groupBy(*bkt, *key_cols).agg(*aggs)
        dead = F.coalesce(F.col(f"_w.{TOMBSTONE_COL}"), F.lit(False))
        out = [*bkt, *key_cols, *[F.col(f"_w.{c}").alias(c) for c in val_cols]]
        if not batched:
            return resolved.filter(~dead).select(*out)
        existed = F.coalesce(F.col("_prior._existed"), F.lit(False))
        return resolved.select(
            *out,
            dead.alias(TOMBSTONE_COL),
            BATCH_COL,
            existed.alias("_existed"),
            *[F.when(existed, F.col(f"_prior.{c}")).alias(f"_pre_{c}") for c in pre],
        )

    def _plan_read(
        self,
        snap: Snapshot,
        buckets: list[int] | None = None,
        bounds: dict[str, tuple] | None = None,
    ) -> _ReadPlan:
        """The one statement of read-file selection: the base files of
        ``buckets`` (default: every bucket) that may hold a row inside
        every ``bounds`` range (``{col: (lo, hi)}``, None = open end) per
        the manifest stats, and EVERY delta file of those buckets.

        Sound under merge-on-read: only base files prune. Within a bucket
        every delta outranks every base row (CoW/compact rewrites fold
        and supersede deltas), and base rows are key-unique — so for any
        key the LWW winner over (deltas ∪ kept base rows) equals the
        winner over everything: if the key has delta rows the base copy
        never wins anyway, and if not, its single base row is either kept
        or provably outside the range. NaN and NULL semantics are encoded
        in the stats entries (``stats.file_overlaps``); a missing entry
        never prunes."""
        enc = {}
        if bounds:
            names = set(snap.schema.fieldNames())
            for col, (lo, hi) in bounds.items():
                if col not in names:
                    raise ValueError(f"unknown column {col!r}")
                enc[col] = (_stats.encode_bound(lo), _stats.encode_bound(hi))
        keys = (
            [str(b) for b in buckets]
            if buckets is not None
            else sorted(set(snap.files) | set(snap.delta_files))
        )
        base, total = [], 0
        for k in keys:
            for rel in snap.files.get(k, []):
                total += 1
                entry = snap.file_stats.get(rel, {})
                if all(
                    _stats.file_overlaps(entry.get(c), lo, hi)
                    for c, (lo, hi) in enc.items()
                ):
                    base.append(os.path.join(self.root, rel))
        deltas = [
            os.path.join(self.root, p) for k in keys for p in snap.delta_files.get(k, [])
        ]
        return _ReadPlan(base, deltas, total)

    def _read_plan(self, snap: Snapshot, plan: _ReadPlan) -> DataFrame:
        """A plan's files as the snapshot's current state: LWW-resolved
        when the plan holds deltas, a plain scan with zero resolution
        cost when it holds none."""
        if not plan.deltas:
            return self._scan(snap, plan.base, with_internals=False)
        return self._resolve(
            self._scan(snap, plan.base + plan.deltas, with_internals=True), snap.key_cols
        )

    def read(
        self, snapshot: Snapshot | None = None, buckets: list[int] | None = None
    ) -> DataFrame:
        """Current-state scan (default: current snapshot, all buckets;
        ``buckets`` prunes by file list). If merge-on-read deltas exist
        they are resolved (LWW by commit seq); a fully-compacted table
        reads with zero resolution cost."""
        snap = self._head(snapshot)
        return self._read_plan(snap, self._plan_read(snap, buckets))

    def _key_bucket(
        self, snap: Snapshot, key: dict, cast: bool = True
    ) -> tuple[int | None, dict[str, tuple]]:
        """Bind a point key: its bucket, and the ``_plan_read`` bounds
        that prune the bucket's base files through the manifest stats.

        The key must bind exactly the key columns — a mis-bound key would
        prune to the wrong bucket and return 0 rows instead of erroring
        (a real raise: asserts vanish under python -O). The bucket comes
        from the driver-side XXH64 twin of ``bucket_expr`` (zero Spark
        jobs) when the literals are EXACT-typed for the TABLE's key
        column types. Anything needing a cast takes the Spark expression,
        which IS the cast: hashing the string '42' when the column is a
        long, or ``str(True)='True'`` where Spark's cast gives 'true',
        lands in the wrong bucket and silently misses an existing row.
        ``cast=False`` returns None instead of running that job.
        Bit-equality of the twin with ``F.xxhash64`` is pinned by
        tests/test_xxhash_twin.py.

        Bounds use only exact-typed int literals on stats-eligible
        columns: a value needing a cast has unknown encoded bounds."""
        from ..functions import xxhash as _xx

        if set(key) != set(snap.key_cols):
            raise ValueError(f"key must bind exactly {snap.key_cols}, got {sorted(key)}")
        types = {f.name: f.dataType for f in snap.schema.fields}
        key_types = [types[c] for c in snap.key_cols]
        vals = [key[c] for c in snap.key_cols]

        def exact_int(v) -> bool:
            return isinstance(v, int) and not isinstance(v, bool)

        bounds = {
            c: (v, v)
            for c, v in zip(snap.key_cols, vals)
            if exact_int(v) and isinstance(types[c], _stats._ELIGIBLE)
        }
        bucket = None
        if _xx.supports(key_types) and all(
            isinstance(v, str) if isinstance(dt, T.StringType) else exact_int(v)
            for v, dt in zip(vals, key_types)
        ):
            try:
                bucket = _xx.key_bucket(vals, key_types, snap.n_buckets)
            except (ValueError, TypeError, OverflowError):
                # e.g. an int out of the column type's range — Spark's
                # cast semantics decide what that key means
                pass
        if bucket is None and cast:
            with step(self.spark, "table.read_key"):
                row = self.spark.range(1).select(
                    *[F.lit(key[c]).cast(types[c]).alias(c) for c in snap.key_cols]
                )
                bucket = int(
                    row.select(bucket_expr(snap.key_cols, snap.n_buckets)).collect()[0][0]
                )
        return bucket, bounds

    def read_key(self, key: dict[str, str], snapshot: Snapshot | None = None) -> DataFrame:
        """Point lookup of one merge key: current row (0 or 1 rows).

        The engine's read-back analog of the reference's cone search
        (SURVEY.md §3.3): coarse prune first (the key hashes to exactly
        one bucket — only that bucket's files are scanned), then the
        manifest stats narrow the bucket's base files (~one file on a
        key-clustered table), the parquet bloom filters drop row groups
        inside whatever survives, and the exact predicate refines. At
        100 TB this touches 1/n_buckets of the table regardless of table
        size.
        """
        snap = self._head(snapshot)
        with step(self.spark, "table.read_key"):
            bucket, bounds = self._key_bucket(snap, key)
            df = self._read_plan(snap, self._plan_read(snap, [bucket], bounds))
        types = {f.name: f.dataType for f in snap.schema.fields}
        return df.filter(
            functools.reduce(
                operator.and_,
                [F.col(c) == F.lit(key[c]).cast(types[c]) for c in snap.key_cols],
            )
        )

    def read_key_local(
        self, key: dict, snapshot: Snapshot | None = None
    ) -> dict | None:
        """Point lookup WITHOUT a Spark job: the current row as a plain
        dict, or None. The driver hashes the bucket (XXH64 twin), prunes
        the bucket's base files through the manifest stats, and reads
        the survivors plus the bucket's deltas with pyarrow (row-group
        stats pushdown via ``filters``), resolving LWW by max ``_seq``
        locally — microseconds of queue latency instead of a scheduled
        Spark job per lookup, which is the whole cost of a point read
        under concurrent load (reference analog: the <100 ms point-query
        band db_performance_test.py holds Postgres to; a Spark job's
        floor is the scheduler, not the data). pyarrow's ``filters``
        prune row groups on min/max statistics only and never open a
        bloom filter, so the manifest stats prune is the last one before
        a surviving file's key column is decoded. Values needing a cast
        fall back to ``read_key`` — Spark's cast semantics decide what
        such a key means, exactly as the write path did."""
        snap = self._head(snapshot)
        bucket, bounds = self._key_bucket(snap, key, cast=False)
        if bucket is None:
            with step(self.spark, "table.read_key"):
                rows = self.read_key(key, snapshot=snap).collect()
            return rows[0].asDict() if rows else None

        import pyarrow as pa
        import pyarrow.parquet as pq

        plan = self._plan_read(snap, [bucket], bounds)
        filters = [(c, "=", key[c]) for c in snap.key_cols]
        best: tuple[int, dict] | None = None
        for path in plan.base + plan.deltas:
            try:
                tbl = pq.read_table(path, filters=filters)
            except pa.ArrowInvalid:
                # key columns exist in every data file (every write path
                # stamps them), so this is defensive against a malformed
                # file only: scan unfiltered, refine row-by-row below
                tbl = pq.read_table(path)
            for row in tbl.to_pylist():
                if any(row.get(c) != key[c] for c in snap.key_cols):
                    continue  # plain-scanned fallback rows
                seq = int(row.get(SEQ_COL) or 0)
                if best is None or seq > best[0]:
                    best = (seq, row)
        if best is None:
            return None
        row = best[1]
        if row.get(TOMBSTONE_COL):
            return None
        return {f.name: row.get(f.name) for f in snap.schema.fields}

    def point_prune_report(self, key: dict, snapshot: Snapshot | None = None) -> dict:
        """Observability twin of ``read_key``'s planning: the key's
        bucket and how many of its base files the manifest stats keep vs
        skip. Binds the key exactly as the read does (same refusals; no
        Spark job for a key the XXH64 twin hashes)."""
        snap = self._head(snapshot)
        bucket, bounds = self._key_bucket(snap, key)
        return {"bucket": bucket, **self._plan_read(snap, [bucket], bounds).report()}

    def changes(
        self,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        with_preimage: bool = False,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Incremental read: the NET per-key change between two committed
        snapshots (Iceberg incremental scan / changelog analog; reference's
        poll-for-new-work pattern, batch_processing_dag.py:96-135, restated
        as a table-level diff).

        ``with_preimage=True`` additionally emits the OLD value columns as
        ``_pre_<col>`` (Delta CDF's preimage half): the values the key held
        at ``from`` for updates/deletes, NULL for inserts — downstream
        retractable consumers (incremental aggregate views) need the old
        contribution to subtract.

        ``columns``: project the changelog to a subset of value columns.
        This is not cosmetic: the resolution packs the emitted value
        columns into its ``max_by`` structs, so an unprojected changelog
        over a table with a wide payload column shuffles that payload even
        when the consumer only wants a counter — with
        ``columns=["last_lsn"]`` the payload never leaves the parquet scan
        (column pruning reaches the data files). Key columns and
        ``change_type`` are always present.

        One resolve, no join: the delta files appended by the commits in
        ``(from, to]`` (picked by commit, O(changed rows)) are applied as
        a batch (``_resolve``) onto the ``from`` snapshot's files in the
        buckets those deltas touched (picked by ``_plan_read``; the bucket
        list comes from the manifests, zero extra driver jobs). ONE
        aggregation on the key columns ranks each key's rows by (in-range
        flag, ``_seq``): the winner is the key's net in-range change, and
        the newest ``from`` row says whether the key existed there and
        what it held. Output: key columns + ``change_type`` (insert /
        update / delete) + the ``to``-schema value columns (null for
        deletes). A delete of a key that did not exist at ``from`` nets
        out to nothing, and intermediate flip-flops collapse — this is a
        state diff, not an event replay (the WAL itself is the
        event-level changelog).

        Requirements (checked by ``commits_between`` and
        ``changelog_commits``, the same contract the changelog stream
        source enforces): ``from`` must be a retained ancestor of ``to``;
        the in-range commits must be metadata-only or merge-on-read (a
        CoW ``merge`` rewrites whole buckets and keeps no row-level
        changelog; a ``compact`` or ``rebucket`` in range is fine — both
        are logically idempotent rewrites and the folded delta files stay
        on disk until ``expire_snapshots``; across a ``rebucket`` the
        ``from`` files are read from every bucket because the spec
        changed). A restore in range needs no special case: it re-parents
        the chain onto its target, so undone commits are off the walk,
        and the restore commit itself carries no deltas."""
        to_snap = (
            read_snapshot(self._meta, to_snapshot_id)
            if to_snapshot_id is not None
            else self.current_snapshot()
        )
        if to_snap is None:
            raise ValueError(f"unknown 'to' snapshot {to_snapshot_id}")
        from_snap = read_snapshot(self._meta, from_snapshot_id)
        if from_snap is None:
            if from_snapshot_id < to_snap.snapshot_id:
                # a `from` lost to expiry gets the walk's expired error
                commits_between(self._meta, from_snapshot_id, to_snap.snapshot_id)
            raise ValueError(f"unknown 'from' snapshot {from_snapshot_id}")
        chain = commits_between(self._meta, from_snapshot_id, to_snap.snapshot_id)

        # Each in-range merge-on-read commit's own delta files. A rebucket
        # in range folds deltas into base files but the pre-fold delta
        # files stay on disk (like compact), so the row-level changelog
        # survives; it DOES change the bucket spec, so bucket ids parsed
        # from delta paths stop matching ``from``'s layout.
        delta_files: dict[str, list[str]] = {}
        for snap in changelog_commits(chain):
            for bk, ps in commit_files(snap).items():
                delta_files.setdefault(bk, []).extend(ps)
        spec_stable = all(s.n_buckets == from_snap.n_buckets for s in chain)

        key_cols = to_snap.key_cols
        to_types = {f.name: f.dataType for f in to_snap.schema.fields}
        val_cols = [c for c in to_types if c not in key_cols]
        if columns is not None:
            bad = [c for c in columns if c not in val_cols]
            if bad:
                raise ValueError(
                    f"changes(columns=...) not value columns of the table: {bad}"
                )
            val_cols = [c for c in val_cols if c in set(columns)]

        def rows(snap: Snapshot, paths: list[str], in_range: bool) -> DataFrame:
            # every row in the ``to`` shape: a ``from`` row's values are
            # cast up to the ``to`` types, NULL where ``from`` lacks the
            # column or no pre-image is asked for (then they never surface)
            names = set(snap.schema.fieldNames()) if in_range or with_preimage else set()
            vals = [
                (F.col(c) if c in names else F.lit(None)).cast(to_types[c]).alias(c)
                for c in val_cols
            ]
            return self._scan(snap, paths, with_internals=True).select(
                *key_cols, *vals, SEQ_COL, TOMBSTONE_COL, F.lit(in_range).alias(BATCH_COL)
            )

        # ``from``'s files in the touched buckets — in every bucket across
        # a rebucket, in none for a delta-free range (then both scans are
        # empty and no job runs)
        touched = (
            sorted(int(b) for b in delta_files)
            if spec_stable or not delta_files
            else None
        )
        prior = self._plan_read(from_snap, touched)
        with step(self.spark, "table.changes"):
            union = rows(from_snap, prior.base + prior.deltas, False).unionByName(
                rows(
                    to_snap,
                    [os.path.join(self.root, p) for ps in delta_files.values() for p in ps],
                    True,
                )
            )
        resolved = self._resolve(union, key_cols, preimage=with_preimage)
        existed, dead = F.col("_existed"), F.col(TOMBSTONE_COL)
        change = F.when(~existed, "insert").when(dead, "delete").otherwise("update")
        pre_out = [f"_pre_{c}" for c in val_cols] if with_preimage else []
        return resolved.filter(F.col(BATCH_COL) & (existed | ~dead)).select(
            *key_cols, *val_cols, change.alias("change_type"), *pre_out
        )

    def _conform_types(self, updates: DataFrame, snap: Snapshot) -> DataFrame:
        """Write-side schema enforcement: cast update columns whose type is
        NARROWER than the table's to the table type (lossless by the same
        matrix scan-side widening uses), and REFUSE columns wider than the
        table's (a double written into a float column poisons every future
        scan of that file — the caller must ``widen_columns`` first).

        Key columns matter doubly: ``bucket_expr`` hashes the physical
        type (``xxhash64(int 1) != xxhash64(bigint 1)``), so an
        un-conformed narrow key would hash into the WRONG bucket and make
        the row invisible to bucket-pruned reads."""
        casts: dict[str, F.Column] = {}
        in_types = {f.name: f.dataType for f in updates.schema.fields}
        for f in snap.schema.fields:
            it = in_types.get(f.name)
            if it is None or it == f.dataType:
                continue
            if is_lossless_widening(it, f.dataType):
                casts[f.name] = F.col(f.name).cast(f.dataType)
            elif f.name in snap.key_cols:
                # widen_columns categorically refuses keys (bucket hashes
                # are type-sensitive), so don't send the caller there
                raise ValueError(
                    f"update KEY column {f.name!r} is {it.simpleString()} "
                    f"but the table key is {f.dataType.simpleString()}; key "
                    "type migrations require a rebucket() rewrite"
                )
            else:
                raise ValueError(
                    f"update column {f.name!r} is {it.simpleString()} but the "
                    f"table column is {f.dataType.simpleString()}; widening "
                    "writes are refused — promote the table first with "
                    "widen_columns()"
                )
        return updates.withColumns(casts) if casts else updates

    # ------------------------------------------------------------- evolve

    def add_columns(self, new_fields: list[T.StructField], summary: dict | None = None) -> Snapshot:
        """Additive schema evolution: metadata-only commit; existing files
        carry forward and read back with nulls for the new columns.

        Re-adding a name in ``dropped_cols`` is refused: scans read by
        NAME, so the physical column still present in pre-drop files
        would RESURRECT its old values into the "new" column (the hazard
        Iceberg solves with field IDs). ``rebucket`` rewrites every file
        and clears the set."""
        cur = self._head()
        schema = cur.schema
        existing = {f.name for f in schema.fields}
        for nf in new_fields:
            if nf.name in existing:
                continue
            if nf.name in cur.dropped_cols:
                raise ValueError(
                    f"column name {nf.name!r} was previously dropped and its "
                    "physical data may survive in referenced files; re-adding "
                    "it would resurrect old values — rebucket() first to "
                    "rewrite the table"
                )
            schema = schema.add(nf)
        return self._commit(
            cur,
            {"operation": "add-columns", **(summary or {})},
            schema_json=schema.jsonValue(),
        )

    def evolve_to(
        self,
        batch_schema: T.StructType,
        reserved: frozenset[str] | set[str] = frozenset(),
        summary: dict | None = None,
        snapshot: Snapshot | None = None,
    ) -> list[Snapshot]:
        """Evolve the table to accept ``batch_schema`` (Delta
        ``mergeSchema`` analog): ADD columns the table lacks and WIDEN
        columns whose batch type is losslessly wider — both metadata-only
        commits. ``reserved`` names (transport columns like op/lsn) are
        ignored. Key columns never change (a widened key would re-bucket
        every existing row). Returns the commits made ([] if none).

        Columns the batch carries NARROWER need nothing here: the write
        path's ``_conform_types`` upcasts them. Incompatible types are
        left for the write path to refuse loudly. Names in
        ``dropped_cols`` are SKIPPED, not re-added: historical WAL
        segments keep carrying a dropped column forever, and wedging
        every subsequent batch on the resurrect guard would force the
        full-rewrite the metadata-only drop exists to avoid — the write
        path ignores the column, same as the non-evolving path. When the
        batch both adds and widens, ONE combined metadata commit is
        written (a crash can never leave a half-evolved schema, and the
        snapshot chain — walked by resume ledgers — grows by one, not
        two). The commit compare-and-swaps against ``snapshot`` (default:
        the head)."""
        cur = self._head(snapshot)
        table_types = {f.name: f.dataType for f in cur.schema.fields}
        skip = set(reserved) | set(cur.dropped_cols)
        new = [
            T.StructField(f.name, f.dataType, True)
            for f in batch_schema.fields
            if f.name not in table_types and f.name not in skip
        ]
        widen = {
            f.name: f.dataType
            for f in batch_schema.fields
            if f.name in table_types
            and f.name not in skip
            and f.name not in cur.key_cols
            and is_lossless_widening(table_types[f.name], f.dataType)
        }
        if not new and not widen:
            return []
        fields: dict[str, Any] = {}
        if new:
            fields["evolved_columns"] = [f.name for f in new]
        if widen:
            fields["widened"] = {n: t.simpleString() for n, t in widen.items()}
        op = "evolve" if new and widen else "add-columns" if new else "widen-columns"
        return [
            self._commit(
                cur,
                {"operation": op, **fields, **(summary or {})},
                **_widened(cur, widen, new),
            )
        ]

    def drop_columns(self, names: list[str], summary: dict | None = None) -> Snapshot:
        """Drop value columns as a METADATA-ONLY commit — zero files
        rewritten. ``_scan`` reads with the snapshot's explicit schema, so
        the physical column in existing files simply stops being decoded
        (column pruning makes the drop free at read time too). The
        dropped name is remembered in ``Snapshot.dropped_cols`` (carried
        forward commit-over-commit, surviving snapshot expiry) and
        ``add_columns`` refuses to reuse it until a ``rebucket`` rewrites
        every file — scans read by name, so reuse would resurrect stale
        values from pre-drop files (the hazard Iceberg's field IDs exist
        to prevent). Key columns cannot be dropped. Time travel to a
        pre-drop snapshot still reads the column (snapshots are
        self-describing)."""
        cur = self._head()
        existing = {f.name for f in cur.schema.fields}
        for n in names:
            if n not in existing:
                raise ValueError(f"unknown column {n!r}")
            if n in cur.key_cols:
                raise ValueError(f"cannot drop key column {n!r}")
        doomed = set(names)
        if not [f for f in cur.schema.fields if f.name not in doomed and f.name not in cur.key_cols]:
            raise ValueError("cannot drop every value column")
        schema = T.StructType([f for f in cur.schema.fields if f.name not in doomed])
        keeps_cluster = not (
            cur.cluster_spec and set(cur.cluster_spec["cols"]) & doomed
        )
        return self._commit(
            cur,
            {"operation": "drop-columns", "dropped": sorted(doomed), **(summary or {})},
            schema_json=schema.jsonValue(),
            # dropping a clustered column retires the spec: maintenance
            # rewrites must not sort by a name scans can no longer read
            cluster_spec=cur.cluster_spec if keeps_cluster else None,
            dropped_cols=sorted(set(cur.dropped_cols) | doomed),
            # stats for a dropped name are dead weight (read_between
            # validates against the current schema) — strip them
            file_stats={
                p: kept
                for p, e in cur.file_stats.items()
                if (kept := {c: s for c, s in e.items() if c not in doomed})
            },
        )

    def widen_columns(
        self, changes: dict[str, T.DataType], summary: dict | None = None
    ) -> Snapshot:
        """Type-widening schema evolution (Iceberg v3 type promotion /
        Delta type widening analog): promote value columns to a wider,
        lossless type as a METADATA-ONLY commit — zero data files
        rewritten. Existing narrow-typed parquet files upcast at scan
        time (Spark 4's vectorized parquet reader promotes int32→
        int64/double, float→double, date→timestamp_ntz, and decimal
        precision/scale growth when handed the wider read schema, which
        ``_scan`` always passes explicitly). At 100 TB this turns "the
        counter overflowed int32" from a full-table rewrite into an O(1)
        manifest flip; merges written before AND after the promotion
        coexist, and merge-on-read resolution coalesces across them
        (Spark promotes the join/coalesce to the wider type).

        Key columns are refused: the bucket layout hashes the PHYSICAL
        column type (``xxhash64(int 1) != xxhash64(bigint 1)``), so a key
        widening would silently re-bucket every existing key — that
        migration is ``rebucket`` territory, a rewrite by nature.

        Reference analog: the live-table ALTER migrations that grow
        column capacity without rewriting rows (the additive-evolution
        sibling of V2__Add_Workflow_Versioning_Support.sql)."""
        cur = self._head()
        fields = {f.name: f for f in cur.schema.fields}
        for name, new_t in changes.items():
            if name not in fields:
                raise ValueError(f"unknown column {name!r}")
            if name in cur.key_cols:
                raise ValueError(
                    f"cannot widen key column {name!r}: bucket hashes are "
                    "type-sensitive; use rebucket() for key migrations"
                )
            old_t = fields[name].dataType
            if old_t == new_t:
                raise ValueError(f"column {name!r} is already {new_t.simpleString()}")
            if not is_lossless_widening(old_t, new_t):
                raise ValueError(
                    f"{old_t.simpleString()} -> {new_t.simpleString()} is "
                    f"not a lossless widening for column {name!r}"
                )
        return self._commit(
            cur,
            {
                "operation": "widen-columns",
                "widened": {n: t.simpleString() for n, t in changes.items()},
                **(summary or {}),
            },
            **_widened(cur, changes),
        )

    def rebucket(self, n_buckets: int, summary: dict | None = None) -> Snapshot:
        """Partition-spec evolution (Iceberg bucket-count change): rewrite
        the CURRENT net state under a new bucket count as one commit.

        Snapshots are self-describing — each carries its own
        ``n_buckets`` — so time travel keeps reading pre-evolution
        snapshots with their original layout and point-lookup pruning,
        while every future MERGE buckets by the new spec. MoR deltas
        fold in during the rewrite (the new snapshot starts delta-free).
        Cost is one full rewrite of live data, the same bill Iceberg
        pays to rewrite into a new partition spec — paid once, amortized
        over the pruning/parallelism the new count buys as a table grows
        past its original layout."""
        cur = self._head()
        if n_buckets == cur.n_buckets:
            return cur
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        # keep the active clustering true through the spec change: same
        # sort AND the same file-size split — one wide sorted file per
        # bucket would leave every file spanning the whole value range
        # (zero data skipping) while the spec still claimed clustering
        with step(self.spark, "table.rebucket"):
            commit_id, files, _ = self._rewrite(
                cur, None, cur.cluster_spec, n_buckets=n_buckets
            )
        return self._commit(
            cur,
            {
                "operation": "rebucket",
                "from_buckets": cur.n_buckets,
                "to_buckets": n_buckets,
                **(summary or {}),
            },
            commit_id=commit_id,
            n_buckets=n_buckets,
            **_rewritten(self.root, cur, files),
            # a rebucket rewrites EVERY file from a scan under the current
            # schema, so previously-dropped physical columns are purged
            # and their names become safe to reuse
            dropped_cols=[],
        )

    def _rewrite(
        self, cur: Snapshot, buckets: list[int] | None, spec: dict | None,
        n_buckets: int | None = None, batch: DataFrame | None = None,
    ) -> tuple[int, dict[str, list[str]], dict[str, int]]:
        """The one bucket rewrite (CoW merge, compaction, clustering,
        rebucket): allocate the commit id, resolve ``buckets`` (None:
        all) of ``cur`` through the bucket-fused resolve under
        ``n_buckets`` (default ``cur``'s) — ONE exchange — and write the
        live rows stamped with the id under the cluster ``spec``. Returns
        the id and the files per bucket (for ``_commit(**_rewritten())``)
        and the merge totals.

        ``batch``: a CoW merge's conformed rows with their ``_tombstone``,
        flagged ``BATCH_COL`` so they resolve as the buckets' newest
        change (``_resolve``). Each key it names counts as an insert,
        update, delete or no-op delete by its tombstone and ``_existed``,
        observed during the write; ``rows_outside_touched`` counts its
        rows outside ``buckets`` (all of them when ``buckets`` is empty)."""
        from pyspark.sql import Observation

        commit_id = self._alloc_commit_id(cur)
        plan = self._plan_read(cur, buckets)
        rows = self._scan(cur, plan.base + plan.deltas, with_internals=True)
        if batch is not None:
            rows = rows.withColumn(BATCH_COL, F.lit(False)).unionByName(
                batch.withColumns(
                    {SEQ_COL: F.lit(commit_id).cast("long"), BATCH_COL: F.lit(True)}
                )
            )
        resolved = self._resolve(rows, cur.key_cols, n_buckets or cur.n_buckets)
        if batch is not None:
            new, dead, existed = (F.col(c) for c in (BATCH_COL, TOMBSTONE_COL, "_existed"))
            aggs = [
                F.count(F.when(new & ~existed & ~dead, 1)).alias("rows_inserted"),
                F.count(F.when(new & existed & ~dead, 1)).alias("rows_updated"),
                F.count(F.when(new & existed & dead, 1)).alias("rows_deleted"),
                F.count(F.when(new & ~existed & dead, 1)).alias("rows_delete_noop"),
                F.count(F.when(new & ~F.col(BUCKET_COL).isin(buckets), 1)).alias(
                    "rows_outside_touched"
                ),
            ]
            obs = Observation()
            grouped, resolved = resolved, resolved.observe(obs, *aggs).filter(~dead)
        stamped = resolved.drop(TOMBSTONE_COL, BATCH_COL, "_existed").withColumns(
            {SEQ_COL: F.lit(commit_id).cast("long"), TOMBSTONE_COL: F.lit(False)}
        )
        _, written = self._write_buckets(stamped, cur, commit_id, "commit", spec=spec)
        totals = {} if batch is None else observed_metrics(obs, grouped, aggs)
        return commit_id, written, totals

    def _write_buckets(
        self, df: DataFrame, cur: Snapshot, commit_id: int, kind: str, spec: dict | None = None
    ) -> tuple[str, dict[str, list[str]]]:
        """Write one commit attempt's data files and list them per bucket
        (numeric bucket order) — the one statement of the attempt-directory
        rule. ``df`` carries ``BUCKET_COL``, partitioned as the caller
        needs. Files land under
        ``data/<kind>-<commit_id>-<tok>/_bucket=<k>/part-*.parquet``:
        ``kind`` is ``commit`` for rewrites (CoW merge, compact, rebucket,
        cluster) or ``delta`` for merge-on-read deltas, and ``<tok>`` is a
        per-attempt random token, so concurrent attempts at one commit id
        write disjoint directories. ``commit_files`` reads the rule back.
        A cluster ``spec`` sorts each partition by (bucket, spec key) and
        caps files at ``target_rows_per_file`` rows."""
        rel_dir = os.path.join("data", f"{kind}-{commit_id}-{uuid.uuid4().hex[:6]}")
        out_dir = os.path.join(self.root, rel_dir)
        opts = dict(self._write_opts(cur))
        if spec:
            df = df.sortWithinPartitions(
                F.col(BUCKET_COL), self._cluster_sort_key(cur, spec)
            )
            opts["maxRecordsPerFile"] = str(spec["target_rows_per_file"])
        df.write.options(**opts).partitionBy(BUCKET_COL).mode("overwrite").parquet(out_dir)
        files: dict[str, list[str]] = {}
        entries = [e for e in os.listdir(out_dir) if e.startswith(f"{BUCKET_COL}=")]
        for entry in sorted(entries, key=lambda e: int(e.split("=", 1)[1])):
            rels = [
                os.path.join(rel_dir, entry, fn)
                for fn in sorted(os.listdir(os.path.join(out_dir, entry)))
                if fn.endswith(".parquet")
            ]
            if rels:
                files[entry.split("=", 1)[1]] = rels
        return rel_dir, files

    # -------------------------------------------------------------- merge

    def files(self, snapshot: Snapshot | None = None) -> DataFrame:
        """Manifest as a DataFrame (Iceberg ``table.files`` metadata-table
        analog): one row per referenced data file with bucket, kind
        (base/delta), footer row count and JSON-encoded column ranges —
        all from the snapshot, zero file opens. The observability
        surface maintenance decisions and skew investigations read."""
        import json as _json

        snap = self._head(snapshot)
        # when a REAL column owns the "_n_rows" name, the stats entry
        # under that key is ITS range, not a file count — leave it in
        # col_stats and report no count (mirrors row_count())
        count_key_is_ours = not any(
            f.name == "_n_rows" for f in snap.schema.fields
        )
        rows = []
        for kind, files in (("base", snap.files), ("delta", snap.delta_files)):
            for b, paths in files.items():
                for p in paths:
                    st = dict(snap.file_stats.get(p, {}))
                    n = (
                        st.pop("_n_rows", {}).get("n")
                        if count_key_is_ours
                        else None
                    )
                    rows.append(
                        (
                            p,
                            int(b),
                            kind,
                            n,
                            _json.dumps(st, sort_keys=True) if st else None,
                        )
                    )
        return self.spark.createDataFrame(
            rows,
            "path string, bucket int, kind string, n_rows long, col_stats string",
        )

    def maintenance_report(self, snapshot: Snapshot | None = None) -> dict:
        """Manifest-only health report (zero file opens, zero jobs): what
        maintenance this table needs and why. The inputs are all in the
        snapshot already — delta-file counts per bucket (read-time LWW
        resolution cost), per-file row counts vs the cluster spec's
        target (small-file fragmentation from CoW rewrites and
        ``maxRecordsPerFile`` splits), retained-chain length (metadata
        growth), live branch refs (they pin history). The reference runs
        its maintenance blind on a timer (maintenance_dag); a 100-TB
        table wants it driven by these numbers instead."""
        snap = self._head(snapshot)
        spec = snap.cluster_spec
        target = int(spec["target_rows_per_file"]) if spec else None
        buckets = []
        total_delta = 0
        total_small = 0
        small_known = True  # any bucket with unknown counts → total unknown
        for b in sorted(set(snap.files) | set(snap.delta_files), key=int):
            base = snap.files.get(b, [])
            n_delta = len(snap.delta_files.get(b, []))
            total_delta += n_delta
            small = None
            if target is not None:
                counts = [
                    snap.file_stats.get(p, {}).get("_n_rows", {}).get("n")
                    for p in base
                ]
                if all(c is not None for c in counts):
                    # a file far below the clustering target is a seek's
                    # worth of data behind a whole file open
                    small = sum(1 for c in counts if c < target // 2)
                    total_small += small
                else:
                    small_known = False
            buckets.append(
                {
                    "bucket": int(b),
                    "base_files": len(base),
                    "delta_files": n_delta,
                    "small_files": small,
                }
            )
        return {
            "snapshot_id": snap.snapshot_id,
            "retained_snapshots": len(self.snapshot_chain()),
            "branches": sorted(r for r in self.refs() if r != "main"),
            "clustered": spec is not None,
            "total_delta_files": total_delta,
            # None means "not known" (unclustered, or some files predate
            # row-count stats) — never an undercount a caller could read
            # as "no fragmentation"
            "total_small_files": (
                total_small if target is not None and small_known else None
            ),
            "buckets": buckets,
        }

    def auto_maintain(
        self,
        max_delta_files: int = 8,
        keep_last: int = 20,
        orphan_grace_s: float = 3600.0,
    ) -> list[dict]:
        """Threshold-driven maintenance off ``maintenance_report``:
        compact buckets whose delta count reached ``max_delta_files``
        (bounds read-time LWW resolution), then expire old snapshots
        (skipped with a reason while branches exist — branch chains pin
        shared history, and ``expire_snapshots`` refuses by design).
        Returns the action list with outcomes; call it after each ingest
        cycle and it stays O(changed buckets)."""
        actions: list[dict] = []
        rep = self.maintenance_report()
        ripe = [b["bucket"] for b in rep["buckets"] if b["delta_files"] >= max_delta_files]
        if ripe:
            snap = self.compact(min_deltas=max_delta_files)
            actions.append(
                {
                    "action": "compact",
                    "buckets": ripe,
                    "snapshot_id": snap.snapshot_id if snap else None,
                }
            )
        if rep["branches"]:
            actions.append(
                {
                    "action": "expire_snapshots",
                    "skipped": f"live branches {rep['branches']} pin history",
                }
            )
        else:
            n = self.expire_snapshots(
                keep_last=keep_last, orphan_grace_s=orphan_grace_s
            )
            actions.append({"action": "expire_snapshots", "expired": n})
        return actions

    def row_count(self, snapshot: Snapshot | None = None) -> int | None:
        """Metadata-only ``COUNT(*)`` (Iceberg answers it from manifests;
        at 10^5-10^6 files a distributed count job for a number the
        footers already know is a metadata storm). Exact when the
        snapshot is delta-free — every base row is live and unique by
        key — and every referenced file carries a recorded footer count.
        Returns None (caller falls back to ``read().count()``) when MoR
        deltas exist (upsert-vs-insert is unknowable without resolving)
        or any file predates row-count stats: None means "don't know",
        never an approximation."""
        snap = self._head(snapshot)
        if any(snap.delta_files.values()):
            return None
        if any(f.name == "_n_rows" for f in snap.schema.fields):
            # a real column owns the stats key; no counts were recorded
            return None
        total = 0
        for paths in snap.files.values():
            for p in paths:
                ent = snap.file_stats.get(p, {}).get("_n_rows")
                if ent is None:
                    return None
                total += int(ent["n"])
        return total

    def delete_where(
        self, predicate: F.Column, mode: str = "mor", summary: dict | None = None
    ) -> tuple["Snapshot", dict]:
        """``DELETE FROM t WHERE p`` (Delta/Iceberg row-level delete
        statement analog), compiled onto the merge machinery: one
        column-pruned scan finds the matching KEYS (the predicate pushes
        to parquet; manifest stats / bloom filters skip files that cannot
        match), then the keys flow through the ordinary merge as delete
        rows. ``mode='mor'`` appends tombstones — O(matches) write, zero
        rewrite, the 100-TB shape for selective deletes (GDPR erasure of
        one repo); ``mode='cow'`` rewrites only the touched buckets.

        The merge plans and commits on the snapshot the scan read, so a
        concurrent writer landing between them raises
        ``CommitConflictError`` at publish (CAS) — re-run under
        ``commit_with_retries``."""
        cur = self._head()
        key_cols = cur.key_cols
        updates = self.read(snapshot=cur).filter(predicate).select(*key_cols)
        for f in cur.schema.fields:
            if f.name not in key_cols:
                updates = updates.withColumn(f.name, F.lit(None).cast(f.dataType))
        updates = updates.withColumn("op", F.lit("delete"))
        fn = self.merge_mor if mode == "mor" else self.merge
        return fn(
            updates, summary={"statement": "delete_where", **(summary or {})}, snapshot=cur
        )

    def update_where(
        self,
        set: dict,
        predicate: F.Column,
        mode: str = "mor",
        summary: dict | None = None,
    ) -> tuple["Snapshot", dict]:
        """``UPDATE t SET col = expr WHERE p``: the matching rows are
        read (predicate pushdown + stats/bloom skipping), the SET
        expressions applied in-plan, and the rewritten rows merged back —
        ``mor`` appends the new versions (O(matches)), ``cow`` rewrites
        touched buckets. Key columns cannot be SET (that is a
        delete+insert, and a silently rekeyed row would shadow another
        key's history). Commits on the snapshot it read, like
        ``delete_where``."""
        cur = self._head()
        key_cols = cur.key_cols
        bad = [c for c in set if c in key_cols]
        if bad:
            raise ValueError(
                f"cannot SET key column(s) {bad}: delete the old key and "
                "insert the new one instead"
            )
        unknown = [c for c in set if c not in {f.name for f in cur.schema.fields}]
        if unknown:
            raise ValueError(f"SET of unknown column(s) {unknown}")
        val_cols = [f.name for f in cur.schema.fields if f.name not in key_cols]
        updates = (
            self.read(snapshot=cur)
            .filter(predicate)
            .select(
                *key_cols,
                *[
                    (set[c] if c in set else F.col(c)).alias(c)
                    for c in val_cols
                ],
            )
            .withColumn("op", F.lit("update"))
        )
        fn = self.merge_mor if mode == "mor" else self.merge
        return fn(
            updates, summary={"statement": "update_where", **(summary or {})}, snapshot=cur
        )

    def merge_builder(self, source: DataFrame):
        """Fluent ``MERGE INTO`` clause builder (Delta/Iceberg analog):
        ``when_matched_update(set=...)`` / ``when_matched_delete()`` /
        ``when_not_matched_insert()`` with conditions and SET expressions
        over both sides (``F.col("s.x")`` / ``F.col("t.x")``). See
        :mod:`.merge_builder`."""
        from .merge_builder import MergeBuilder

        return MergeBuilder(self, source)

    def _merge_base(
        self, updates: DataFrame, op_col: str, evolve_schema: bool, snapshot: Snapshot | None
    ) -> Snapshot:
        """The snapshot a merge plans and commits on: the caller's
        ``snapshot`` (else the head), advanced by the optional evolve
        commit. That commit compare-and-swaps against it, so a merge whose
        rows were read at ``snapshot`` still commits only onto it."""
        cur = self._head(snapshot)
        if evolve_schema:
            # deliberately NOT the caller's summary: a batch_id stamped on
            # the metadata commit would mark the batch committed before its
            # data lands — a crash between evolve and merge would then make
            # exactly-once resume skip the data forever
            evolved = self.evolve_to(updates.schema, reserved={op_col}, snapshot=cur)
            cur = evolved[-1] if evolved else cur
        return cur

    def merge(
        self,
        updates: DataFrame,
        op_col: str = "op",
        delete_op: str = "delete",
        summary: dict | None = None,
        touched_buckets: list[int] | None = None,
        evolve_schema: bool = False,
        snapshot: Snapshot | None = None,
    ) -> tuple[Snapshot, dict]:
        """Key-partitioned MERGE (upsert-or-delete), copy-on-write at
        bucket granularity, in ONE pass over the data.

        ``updates`` must be key-collapsed (≤1 row per key — LWW dedup
        upstream) and carry every table column plus ``op_col``.

        Emulates Iceberg ``MERGE INTO t USING s ON key WHEN MATCHED AND
        op='delete' THEN DELETE / WHEN MATCHED THEN UPDATE / WHEN NOT
        MATCHED AND op!='delete' THEN INSERT`` as a compaction of the
        touched buckets with the batch as their newest delta (``_rewrite``:
        one exchange; NULL keys group exactly as merge-on-read resolves
        them). Insert/update/delete classification rides on the write via
        ``DataFrame.observe`` — no second metrics pass (SURVEY.md §2.3 J6,
        §4 "batched writes").

        ``touched_buckets``: pass the pre-computed bucket set when the
        caller already knows it (the runner derives it from a column-
        pruned key scan); otherwise one tiny distinct-collect happens here.
        A batch row outside it refuses the commit.

        ``evolve_schema``: first ADD/WIDEN the table to accept the batch's
        columns (``evolve_to``, Delta ``mergeSchema`` analog) instead of
        dropping unknown columns / refusing wider types.

        ``snapshot``: the snapshot the caller read ``updates`` from. The
        merge (and the evolve commit, with ``evolve_schema``) plans on it
        and commits only while it is still the head, else raises
        ``CommitConflictError`` (see ``_merge_base``).
        """
        cur = self._merge_base(updates, op_col, evolve_schema, snapshot)
        with step(self.spark, "table.merge"):
            updates = self._conform_types(updates, cur)
            if touched_buckets is None:
                touched = sorted(
                    r[0]
                    for r in updates.select(bucket_expr(cur.key_cols, cur.n_buckets))
                    .distinct()
                    .collect()
                )
            else:
                touched = sorted(touched_buckets)
            # a NULL op is an upsert: the same stamp as mor_write's
            batch = updates.select(
                *cur.schema.fieldNames(),
                F.coalesce(F.col(op_col) == delete_op, F.lit(False)).alias(TOMBSTONE_COL),
            )
            # a CoW rewrite of a touched bucket is delta-free, so compact
            # will never revisit it — restore the cluster sort HERE or
            # those buckets lose data skipping until a manual re-cluster
            commit_id, written, totals = self._rewrite(
                cur, touched, cur.cluster_spec, batch=batch
            )
            outside = totals.pop("rows_outside_touched")
            if outside:
                # files are written but NO snapshot references them (the
                # orphan commit dir is GC'd by expire_snapshots) — refuse
                # to commit a merge that would drop these rows
                raise ValueError(
                    f"touched_buckets missed {outside} update row(s); "
                    "pass the full bucket set (or None to derive it)"
                )

        # CoW rewrite of a touched bucket folds in and supersedes its deltas
        snap = self._commit(
            cur,
            {"operation": "merge", **totals, **(summary or {})},
            commit_id=commit_id,
            **_rewritten(self.root, cur, written, touched),
        )
        return snap, {"totals": totals}

    def merge_mor(
        self,
        updates: DataFrame,
        op_col: str = "op",
        delete_op: str = "delete",
        summary: dict | None = None,
        bucket_aligned: bool = False,
        evolve_schema: bool = False,
        snapshot: Snapshot | None = None,
    ) -> tuple[Snapshot, dict]:
        """Merge-on-read MERGE: append per-bucket delta files (upserts +
        tombstones) stamped with this commit's sequence — O(batch) write,
        no join against the base at ingest time.

        This is the 10^10-scale ingest path: write amplification is zero,
        the base is never rescanned per batch, and readers/compaction
        resolve last-writer-wins by ``(key, max _seq)``. ``updates`` must
        be key-collapsed, like ``merge``. Reference analog: the append-only
        detections/event tables (V1__...sql:177-227) + deferred
        consistency resolution.

        Split into ``mor_write`` (the distributed delta write, safe to run
        for several future commits concurrently — commit sequences are
        pre-assigned) and ``mor_finalize`` (the ordered atomic commit), so
        a replay loop can pipeline batch k+1's plan+write behind batch k's
        while commits stay strictly ordered (the pipelined-ingest shape:
        writes race, the ledger serializes).

        ``evolve_schema`` and ``snapshot``: as in ``merge``."""
        cur = self._merge_base(updates, op_col, evolve_schema, snapshot)
        commit_id = self._alloc_commit_id(cur)
        w = self.mor_write(
            updates, commit_id, op_col=op_col, delete_op=delete_op,
            bucket_aligned=bucket_aligned, snapshot=cur,
        )
        return self.mor_finalize(w, summary=summary, expect_parent=cur.snapshot_id)

    def mor_write(
        self,
        updates: DataFrame,
        commit_id: int,
        op_col: str = "op",
        delete_op: str = "delete",
        bucket_aligned: bool = False,
        snapshot: Snapshot | None = None,
    ) -> dict:
        """Distributed half of a MoR merge: write delta files for a
        pre-assigned ``commit_id``. Produces NO visible table state — files
        land in a ``delta`` attempt directory (``_write_buckets``), listed
        per bucket under ``files``, and stay invisible until
        ``mor_finalize`` commits them (atomicity: readers only ever follow
        the version hint). Thread-safe across distinct commit_ids."""
        from pyspark.sql import Observation

        cur = self._head(snapshot)
        key_cols = cur.key_cols
        val_cols = [f.name for f in cur.schema.fields if f.name not in key_cols]
        updates = self._conform_types(updates, cur)

        # coalesce: a NULL op is an upsert, and the tombstone flag must be
        # a real boolean — a NULL tombstone would drop the row from every
        # downstream read's tombstone filter
        is_del = F.coalesce(F.col(op_col) == delete_op, F.lit(False))
        clf_aggs = [
            F.count(F.when(~is_del, 1)).alias("rows_upserted"),
            F.count(F.when(is_del, 1)).alias("rows_delete_ops"),
        ]
        obs = Observation()
        delta = (
            updates.observe(obs, *clf_aggs)
            .select(
                *key_cols,
                # tombstones carry nulls for all value columns
                *[
                    F.when(~is_del, F.col(c)).alias(c)
                    for c in val_cols
                ],
                F.lit(commit_id).cast("long").alias(SEQ_COL),
                is_del.alias(TOMBSTONE_COL),
                bucket_expr(key_cols, cur.n_buckets).alias(BUCKET_COL),
            )
        )
        # bucket-align before the partitioned write: without this, every
        # upstream partition fans out one file per bucket it touches
        # (partitions × buckets small files per commit); with it, one file
        # per bucket, in as few tasks as AQE sizes from the batch's bytes
        # (a ~50-row batch: 1 task, not n_buckets). Callers that already
        # repartitioned by the bucket expression pass ``bucket_aligned=True``.
        to_write = delta if bucket_aligned else delta.repartition(F.col(BUCKET_COL))
        with step(self.spark, "table.mor_write"):
            rel_dir, files = self._write_buckets(to_write, cur, commit_id, "delta")
            totals = observed_metrics(obs, updates, clf_aggs)
        return {"commit_id": commit_id, "rel_dir": rel_dir, "files": files, "totals": totals}

    def mor_finalize(
        self,
        write: dict,
        summary: dict | None = None,
        expect_parent: int | None = None,
    ) -> tuple[Snapshot, dict]:
        """Ordered half of a MoR merge: fold the written delta files into a
        new snapshot and flip the version hint. Must be called in commit_id
        order; ``expect_parent`` asserts the chain didn't move underneath."""
        commit_id, totals = write["commit_id"], write["totals"]
        cur = self._head()
        # this guard and _commit's id check protect the on-disk ledger (an
        # out-of-order finalize would commit a snapshot whose parent skips
        # a commit) — real raises, not asserts that python -O strips
        # CommitConflictError (a RuntimeError): under single-writer
        # pipelining these indicate an ordering bug; under multi-writer
        # racing they are ordinary conflicts commit_with_retries re-runs
        if expect_parent is not None and cur.snapshot_id != expect_parent:
            raise CommitConflictError(
                f"commit order violated: parent {cur.snapshot_id} != {expect_parent}"
            )
        new_deltas = {b: list(p) for b, p in cur.delta_files.items()}
        for bk, rels in write["files"].items():
            new_deltas.setdefault(bk, []).extend(rels)
        snap = self._commit(
            cur,
            {"operation": "merge-mor", **totals, **(summary or {})},
            commit_id=commit_id,
            delta_files=new_deltas,
        )
        return snap, {"totals": totals}

    def compact(self, min_deltas: int = 1, summary: dict | None = None) -> Snapshot | None:
        """Fold merge-on-read deltas back into base files (background
        maintenance — Iceberg rewrite_data_files analog). Buckets with
        ≥ ``min_deltas`` delta files are resolved (LWW by _seq, tombstones
        dropped) and rewritten; others untouched. Returns None if nothing
        to compact."""
        cur = self._head()
        victims = sorted(
            int(b) for b, fs in cur.delta_files.items() if len(fs) >= min_deltas
        )
        if not victims:
            return None
        # maintain the active clustering through compaction: one
        # within-partition sort on the already-bucket-fused stream (no
        # extra shuffle) keeps file/row-group min-max stats tight instead
        # of silently degrading data skipping until the next manual
        # OPTIMIZE
        with step(self.spark, "table.compact"):
            commit_id, written, _ = self._rewrite(cur, victims, cur.cluster_spec)
        return self._commit(
            cur,
            {"operation": "compact", "compacted_buckets": victims, **(summary or {})},
            commit_id=commit_id,
            **_rewritten(self.root, cur, written, victims),
        )

    def _cluster_sort_key(self, cur: Snapshot, spec: dict) -> F.Column:
        """Sort key for the active cluster spec: the column itself for
        one dimension, the Morton z-value for several — built from the
        boundaries PERSISTED at cluster_by time, so a routine compaction
        never re-runs the O(table) quantile pass (the distribution the
        boundaries approximate barely moves between reclusters; a drifted
        distribution costs pruning quality, never correctness)."""
        cols = list(spec["cols"])
        if len(cols) == 1:
            return F.col(cols[0])
        bits = int(spec.get("zorder_bits", 8))
        bounds = spec.get("boundaries")
        if bounds is None:  # spec written before boundary persistence
            bounds = self._zorder_boundaries(cur, cols, bits)
        return self._zorder_expr_from(cols, bits, bounds)

    def _zorder_boundaries(
        self, cur: Snapshot, cols: list[str], bits: int
    ) -> list[list[float]]:
        """One column-pruned ``approxQuantile`` pass over the base files
        for every z-order dimension. Expensive (O(table)); ``cluster_by``
        runs it ONCE and persists the boundaries in ``cluster_spec`` so
        maintenance rewrites never re-scan the table for them."""
        sample = self._scan(
            cur, self._plan_read(cur).base, with_internals=False
        ).select(*cols)
        qs = [i / (1 << bits) for i in range(1, 1 << bits)]
        with step(self.spark, "table.cluster"):
            return sample.approxQuantile(cols, qs, 0.01)

    def _zorder_expr_from(
        self, cols: list[str], bits: int, all_bounds: list[list[float]]
    ) -> F.Column:
        """The pure-expression half: Morton z-value from LITERAL boundary
        arrays — no scan, safe to build on every maintenance rewrite. Each
        column maps to a ``bits``-wide quantile index (so a skewed dimension
        still spreads over all 2^bits codes) and the indices bit-interleave
        into one long: rows sorted by it sit near rows near in EVERY
        dimension at once."""
        z = F.lit(0).cast("long")
        for d, (c, bounds) in enumerate(zip(cols, all_bounds)):
            if not bounds:  # empty table: no boundaries, dimension is flat
                continue
            arr = F.array(*[F.lit(float(b)) for b in bounds])
            v = F.col(c).cast("double")
            idx = F.when(v.isNull(), F.lit(0)).otherwise(
                F.size(F.filter(arr, lambda b: b <= v))
            ).cast("long")
            for i in range(bits):
                bit = F.shiftright(idx, i).bitwiseAND(F.lit(1))
                z = z.bitwiseOR(F.shiftleft(bit, i * len(cols) + d))
        return z

    def cluster_by(
        self,
        col: str | list[str],
        target_rows_per_file: int,
        summary: dict | None = None,
        zorder_bits: int = 8,
    ) -> Snapshot:
        """Clustering rewrite (Delta ``OPTIMIZE ZORDER BY`` / Iceberg
        sort-order rewrite analog): rewrite the current net state with
        each bucket's rows SORTED — by ``col`` itself for one dimension,
        by the Morton z-value over ``col``'s columns for several — and
        split into files of ≤ ``target_rows_per_file`` rows, so files
        cover tight value ranges and their footer min/max (collected
        into the snapshot manifest) make ``read_between`` prune to ~the
        files that actually overlap, on ANY of the clustered columns.

        This exists because hash bucketing deliberately DESTROYS value
        locality — per-file stats on a freshly merged table are near
        useless (every file spans the whole value range). Clustering
        restores locality for the columns your range scans use (for a
        CDC table: event time / LSN, plus e.g. repo size for z-order),
        the same reason Delta pays an OPTIMIZE rewrite to make data
        skipping effective. A z-range covering fraction r of the curve
        spans ~r^(1/d) of each dimension, so multi-dimension pruning is
        weaker per dimension than a dedicated 1-D sort but works on all
        of them simultaneously. Cost is one full rewrite like
        ``rebucket`` (MoR deltas fold in; the row-level changelog
        survives on disk for ``changes()``, which treats this like a
        compaction); buckets and key layout are unchanged, so
        point-lookup pruning is unaffected."""
        cols = [col] if isinstance(col, str) else list(col)
        cur = self._head()
        field_types = {f.name: f.dataType for f in cur.schema.fields}
        for c in cols:
            if c not in field_types:
                raise ValueError(f"unknown column {c!r}")
        if len(cols) > 1:
            numeric = (
                T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                T.FloatType, T.DoubleType,
            )
            for c in cols:
                if not isinstance(field_types[c], numeric):
                    raise ValueError(
                        f"z-order needs numeric dimensions; {c!r} is "
                        f"{field_types[c].simpleString()} (1-D cluster_by "
                        "accepts any orderable column)"
                    )
        if target_rows_per_file < 1:
            raise ValueError("target_rows_per_file must be >= 1")
        spec = {
            "cols": cols,
            "target_rows_per_file": target_rows_per_file,
            "zorder_bits": zorder_bits,
            # persisted so maintenance rewrites never re-scan for them
            "boundaries": (
                None
                if len(cols) == 1
                else self._zorder_boundaries(cur, cols, zorder_bits)
            ),
        }
        # the fused resolve leaves rows clustered by bucket; the spec's
        # sort + file cap make the partitioned writer cut each bucket's
        # stream into consecutive value-ranged files — the point of the op
        with step(self.spark, "table.cluster"):
            commit_id, written, _ = self._rewrite(cur, None, spec)
        return self._commit(
            cur,
            {
                "operation": "cluster",
                "cluster_col": cols[0] if len(cols) == 1 else cols,
                "target_rows_per_file": target_rows_per_file,
                "n_files": sum(len(fs) for fs in written.values()),
                **(summary or {}),
            },
            commit_id=commit_id,
            cluster_spec=spec,
            **_rewritten(self.root, cur, written),
        )

    def read_between(
        self, col: str, lo=None, hi=None, snapshot: Snapshot | None = None
    ) -> DataFrame:
        """Range scan ``lo <= col <= hi`` (either bound open) with
        PLANNING-TIME file pruning off the manifest stats — zero file
        opens for skipped files, which at 10^5-10^6 files is the
        difference between a driver dict walk and a distributed footer
        storm. The exact predicate still applies on top (stats prune
        files, never rows). Only base files prune; every delta file is
        always scanned (``_plan_read`` states why that is sound)."""
        snap = self._head(snapshot)
        df = self._read_plan(snap, self._plan_read(snap, bounds={col: (lo, hi)}))
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (F.col(col) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(col) <= F.lit(hi))
        return df.filter(pred)

    def prune_report(
        self, col: str, lo=None, hi=None, snapshot: Snapshot | None = None
    ) -> dict:
        """Observability twin of ``read_between``: how many base files the
        manifest stats would skip for this range (delta files are never
        pruned). Plans, and so refuses, exactly as the read does."""
        snap = self._head(snapshot)
        return self._plan_read(snap, bounds={col: (lo, hi)}).report()

    def scan_advice(
        self,
        col: str,
        lo=None,
        hi=None,
        snapshot: Snapshot | None = None,
        min_files: int = 8,
    ) -> dict:
        """Query-level layout advisor (the query half of the reference's
        bottleneck→recommendation reports, system_optimizer.py:1-647;
        ``maintenance_report`` is the table-health half): given a range
        scan's shape, grade how well the CURRENT layout serves it and
        name the maintenance op that would fix it. Manifest-only — zero
        jobs, zero file opens — so an orchestrator can call it per query
        and act on ``advice`` programmatically (each entry carries an
        ``action`` token matching an engine method, plus the measured
        numbers behind it)."""
        snap = self._head(snapshot)
        rep = self.prune_report(col, lo, hi, snapshot=snap)
        base, pruned = rep["base_files"], rep["pruned"]
        spec = snap.cluster_spec
        clustered_on = list(spec["cols"]) if spec else None
        advice: list[dict] = []
        bounded = lo is not None or hi is not None
        prune_frac = (pruned / base) if base else 1.0
        col_type = {f.name: f.dataType for f in snap.schema.fields}[col]
        if bounded and not isinstance(col_type, _stats._ELIGIBLE):
            # a type the manifest can't carry min/max for: no rewrite
            # will ever make this range prunable — say so instead of
            # recommending compact() forever (stats would stay absent)
            return {
                "shape": {"col": col, "lo": lo, "hi": hi},
                "prune_report": rep,
                "clustered_on": clustered_on,
                "files_with_stats": 0,
                "advice": [
                    {
                        "action": "none",
                        "reason": (
                            f"{col!r} is {col_type.simpleString()} — the "
                            "manifest carries min/max only for "
                            "numeric/date/timestamp columns, so file "
                            "pruning cannot apply to this range; filter "
                            "on an eligible column, or derive one (e.g. "
                            "a numeric prefix key) and cluster on it"
                        ),
                    }
                ],
            }
        # how many base files even HAVE stats for this column — pruning
        # can't work without them no matter how good the layout is
        with_stats = sum(
            1
            for rels in snap.files.values()
            for p in rels
            if snap.file_stats.get(p, {}).get(col) is not None
        )
        # below min_files the table is too small for layout advice to
        # mean anything (a 4-file table "pruning badly" is noise)
        if bounded and base >= min_files and prune_frac < 0.25:
            if with_stats < base:
                advice.append(
                    {
                        "action": "compact",
                        "reason": (
                            f"only {with_stats}/{base} base files carry "
                            f"min/max stats for {col!r} — they predate "
                            "stats collection; a compact() rewrite "
                            "refreshes every footer into the manifest"
                        ),
                    }
                )
            elif spec is None:
                advice.append(
                    {
                        "action": "cluster_by",
                        "reason": (
                            f"range on {col!r} pruned {pruned}/{base} "
                            "base files: hash bucketing scatters every "
                            "value range across all files, so min/max "
                            f"stats can't skip — cluster_by({col!r}, "
                            "...) makes ranges file-contiguous"
                        ),
                    }
                )
            elif col not in clustered_on:
                advice.append(
                    {
                        "action": "cluster_by",
                        "reason": (
                            f"table is clustered on {clustered_on} but "
                            f"this scan ranges on {col!r} — re-cluster "
                            "with it included (z-order for several "
                            "range dimensions at once)"
                        ),
                    }
                )
            else:
                advice.append(
                    {
                        "action": "compact",
                        "reason": (
                            f"clustered on {col!r} yet only "
                            f"{pruned}/{base} files pruned — "
                            "merge-on-read deltas since the last rewrite "
                            "have re-scattered the range; compact() "
                            "restores locality"
                        ),
                    }
                )
        if bounded and rep["delta_files"] > max(4, base // 4):
            advice.append(
                {
                    "action": "compact",
                    "reason": (
                        f"{rep['delta_files']} delta files are never "
                        "pruned and force LWW resolution on every read"
                    ),
                }
            )
        return {
            "shape": {"col": col, "lo": lo, "hi": hi},
            "prune_report": rep,
            "clustered_on": clustered_on,
            "files_with_stats": with_stats,
            "advice": advice,
        }

    _LINEAGE_SCHEMA = T.StructType(
        [
            T.StructField("run_id", T.StringType()),
            T.StructField("batch_id", T.StringType()),
            T.StructField("lsn_lo", T.LongType()),
            T.StructField("lsn_hi", T.LongType()),
            T.StructField("snapshot_id", T.LongType()),
            T.StructField("committed_at_ms", T.LongType()),
            T.StructField("partition_id", T.LongType()),
            T.StructField("n_files", T.LongType()),
            T.StructField("operation", T.StringType()),
        ]
    )

    def lineage(self) -> DataFrame:
        """Per-(commit, partition) lineage rows (reference:
        ProcessingContext.DataLineage, ProcessingContext.java:161-169),
        derived from this ref's retained snapshot chain, oldest commit
        first: one row per bucket a commit wrote files into
        (``commit_files``), stamped with the commit's batch manifest
        fields. Being derived, lineage follows the chain — expired,
        restored-away and other-branch commits are not listed."""

        def _opt(v, cast):
            return None if v is None else cast(v)

        rows = [
            (
                _opt(s.summary.get("run_id"), str),
                _opt(s.summary.get("batch_id"), str),
                _opt(s.summary.get("lsn_lo"), int),
                _opt(s.summary.get("lsn_hi"), int),
                s.snapshot_id,
                s.timestamp_ms,
                int(bk),
                len(rels),
                s.summary.get("operation"),
            )
            for s in reversed(self.snapshot_chain())
            for bk, rels in commit_files(s).items()
        ]
        return self.spark.createDataFrame(rows, self._LINEAGE_SCHEMA)

    # ----------------------------------------------------------- maintain

    def restore(self, snapshot_id: int, summary: dict | None = None) -> Snapshot:
        """Roll the table back to a retained ancestor's state as a NEW
        commit (Delta ``RESTORE TABLE ... TO VERSION AS OF`` / Iceberg
        rollback analog) — the undo for a bad batch. METADATA-ONLY: the
        restore snapshot is built as a child of the TARGET, re-referencing
        the target's files/deltas/schema/bucket-spec/dropped-name-poison
        verbatim; zero data files move (reference analog: re-running a
        failed job from its last good ``processing_jobs`` checkpoint,
        ProcessingJobService.java:142-164, restated at table granularity).

        The restore's parent link points at the TARGET, so the undone
        commits fall OFF the snapshot chain. That one choice makes every
        chain-walking contract correct with no special cases:

        - ``ledger()`` no longer sees the undone commits, so
          their batch ids leave the exactly-once ledger and a WAL replay
          RE-APPLIES them — rewind-and-replay, the reason a CDC sink
          restores at all (fix the transform, restore, resume; the ledger
          rewind is recorded in the summary as ``rolled_back_batches``,
          the undone commits' ``ledger_records``). A view or replica whose
          marks the restore undid resumes from its last retained mark.
          A batch re-committed AFTER the restore re-enters the ledger via
          its new snapshot, so re-applied work is skipped exactly like
          first-time work on the next resume.
        - ``changes(from, to)`` across a restore walks through it to the
          target: the restore contributes no deltas (state(restore) ==
          state(target) — an empty diff is the true diff), undone
          merge-on-read deltas are no longer on the walk, and asking for
          ``from`` = an undone snapshot fails the existing not-an-ancestor
          guard instead of diffing against discarded state.
        - ``expire_snapshots`` garbage-collects the undone snapshots as a
          side effect (their JSONs are off-chain, their unshared data
          files unreferenced) and — critically — never folds their batch
          ids into the inherited ledger, because only on-chain expired
          snapshots fold.

        The undone snapshot ids and their batch ids are recorded in the
        restore summary for audit (``history()`` shows the restore row;
        the undone snapshots themselves remain readable via
        ``snapshot(id)``/``read(snapshot=...)`` until expiry). Restoring
        to an expired snapshot, to a snapshot undone by a PRIOR restore,
        or to the current snapshot is refused.

        Streaming tails: a structured-streaming checkpoint's source
        offsets do NOT rewind with the ledger — resume the stream with a
        FRESH checkpoint dir and the SAME run_id so retained epochs skip
        by batch id while rolled-back epochs re-apply (contract pinned by
        ``test_stream_restore_rewind_requires_fresh_checkpoint``)."""
        cur = self._head()
        if snapshot_id == cur.snapshot_id:
            raise ValueError(f"snapshot {snapshot_id} is already current")
        try:
            undone = commits_between(self._meta, snapshot_id, cur.snapshot_id)[::-1]
            target = read_snapshot(self._meta, snapshot_id)
        except ValueError:
            target = None
        if target is None:
            raise ValueError(
                f"snapshot {snapshot_id} is not a retained ancestor of "
                f"{cur.snapshot_id}: expired, undone by a prior restore, "
                "or never committed"
            )
        new = target.child(
            # ids stay monotonic (never reuse an undone id): merge commit
            # sequences are snapshot ids, and LWW-by-_seq needs every
            # future write to outrank every write it supersedes
            snapshot_id=self._alloc_commit_id(cur),
            summary={
                "operation": "restore",
                "restored_from": target.snapshot_id,
                "undone_snapshots": [s.snapshot_id for s in undone],
                "rolled_back_batches": [r for s in undone for r in ledger_records(s)],
                **(summary or {}),
            },
        )
        self._publish(new, expected_head=cur.snapshot_id)
        return new

    def expire_snapshots(self, keep_last: int = 5, orphan_grace_s: float = 0.0) -> int:
        """Drop snapshot metadata older than the last N and delete data
        files no live snapshot references (reference analog: S3 lifecycle
        transitions, terraform/01-data/s3.tf:51-84).

        ``orphan_grace_s``: unreferenced files younger than this survive.
        Under multi-writer optimistic concurrency an in-flight attempt's
        data files are indistinguishable from a lost attempt's orphans
        until its commit CAS resolves, so concurrent maintenance must
        pass a grace window comfortably above the longest write+commit
        latency (Iceberg's remove-orphan-files has the same contract).
        The default 0 is for quiesced tables.

        Maintenance runs from the ``main`` view only, and REFUSES while
        branches exist: a branch chain shares main's history, so expiring
        by main's retention could delete snapshots/files a branch still
        references (and its data-file sweep would eat branch-only files
        as "orphans"). Publish or drop branches first — the WAP flow
        keeps branches short-lived by design.

        Crash-safe ordering: the oldest KEPT snapshot is rewritten FIRST —
        parent link cut AND the expired snapshots' ``ledger_records``
        (batch id, run scope and ``lsn_hi`` mark) folded into its
        ``inherited_batches`` in one atomic file publish — and
        only then are expired snapshot JSONs and orphan data files
        removed. The reverse order leaves a crash window where a kept
        snapshot still points at a deleted parent, bricking every
        subsequent chain walk (resume, time travel, batch-id skip checks).
        The inherited records keep ``ledger()`` complete past the
        retention window: exactly-once resume over the full WAL never
        re-applies an expired-but-committed batch, and a view, replica or
        stream keeps its applied-through mark after its own commits
        expire. The newest ``hot_keys`` (the next replay's warm-start salt
        set) is carried too when no kept commit records one."""
        if self.ref != "main":
            raise RuntimeError("expire_snapshots runs from the 'main' view")
        branches = sorted(n for n in self.refs() if n != "main")
        if branches:
            raise RuntimeError(
                f"cannot expire with live branches {branches}: their chains "
                "share main's history — fast_forward or drop_branch first"
            )
        chain = self.snapshot_chain()
        keep, expired = chain[:keep_last], chain[keep_last:]
        live_files = {p for s in keep for fs in s.files.values() for p in fs}
        live_files |= {p for s in keep for fs in s.delta_files.values() for p in fs}

        # 1. atomically re-root the kept chain (link cut + ledger fold)
        if keep and expired:
            oldest = keep[-1]
            ledger = list(oldest.summary.get("inherited_batches", []))
            seen = {(r["batch_id"], r.get("run_scope")) for r in ledger}
            for r in (r for s in expired for r in ledger_records(s)):
                k = (r["batch_id"], r.get("run_scope"))
                if k not in seen:
                    seen.add(k)
                    ledger.append(r)
            # the newest hot_keys is the next replay's warm-start salt set
            # (CdcRunner._prior_hot_keys): carry it if only expired commits hold one
            hot = next((s for s in chain if "hot_keys" in s.summary), oldest)
            if hot.snapshot_id < oldest.snapshot_id:
                oldest.summary = {**oldest.summary, "hot_keys": hot.summary["hot_keys"]}
            oldest.parent_id = None
            oldest.summary = {**oldest.summary, "inherited_batches": ledger}
            self._write_snapshot(oldest)

        # 2. expired metadata (safe now: no kept snapshot references it)
        keep_ids = {s.snapshot_id for s in keep}
        for fn in os.listdir(self._meta):
            if fn.startswith("snapshot-") and fn.endswith(".json"):
                sid = int(fn[len("snapshot-"):-len(".json")])
                if sid not in keep_ids:
                    os.remove(os.path.join(self._meta, fn))
        # 3. orphan data files (outside the in-flight grace window)
        removed = 0
        cutoff = time.time() - orphan_grace_s
        for dirpath, _dirnames, filenames in os.walk(self._data):
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                if fn.endswith(".parquet") and rel not in live_files:
                    try:
                        if os.path.getmtime(full) > cutoff:
                            continue
                        os.remove(full)
                    except FileNotFoundError:
                        continue  # a concurrent GC/abort already removed it
                    removed += 1
        return removed
