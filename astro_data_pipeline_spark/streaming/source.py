"""LakeTable changelog as a Structured Streaming SOURCE (Spark 4 Python
DataSource API) — the read half of the CDC loop.

``spark.readStream`` over a lake table's commit history: every
merge-on-read commit's delta rows (upserts + tombstones, stamped with
their commit sequence) stream to downstream consumers in commit order —
the Delta ``readChangeFeed`` / Iceberg incremental-read analog, built on
the engine's own manifest format. Offsets ARE snapshot ids, so the
streaming checkpoint composes with the table's time travel: an offset
identifies an exact, immutable point in table history.

Semantics: this emits the EVENT-level changelog (one row per delta row,
``_change_commit`` = commit seq, ``_is_delete`` = tombstone), not the
net per-key diff — downstream state reconstruction is one LWW collapse
by ``(key, max _change_commit)``, the same primitive everything else in
the engine uses (and the stateful streaming twin already implements).

Safety contract (shared by both readers):

- The commit range is resolved by WALKING PARENT LINKS from the head,
  never by iterating raw snapshot ids — ids are allocated globally
  across refs, so id iteration would emit other branches' commits (an
  audit-failed WAP batch that was never published).
- Expired history inside a resumed range RAISES (Delta/Iceberg refuse
  an unretained start version the same way); genuine data loss is never
  dressed up as a benign id gap.
- Maintenance commits (compact / rebucket / cluster / schema metadata)
  are transparent: they fold rows the stream already carries. A restore
  is offset-aware: transparent for consumers at/before its target,
  loud for consumers holding rows the table has rewound. A CoW merge —
  or any unknown operation — fails the stream (no row-level changelog;
  fail closed).

Two readers behind one format:

- default: a ``SimpleDataSourceStreamReader`` reading on the driver —
  right for changelog tailing, where a micro-batch is one commit's
  bounded delta set.
- ``.option("partitioned", "true")``: a ``DataSourceStreamReader``
  whose offset planning is identical but whose batches fan out one
  ``InputPartition`` PER DELTA FILE, read executor-side — the scale
  path for fan-in of large commits.

Usage::

    from astro_data_pipeline_spark.streaming.source import (
        register_changelog_source,
    )
    register_changelog_source(spark)
    df = (
        spark.readStream.format("laketable_changes")
        .option("root", table.root)
        .option("start_snapshot", "0")   # optional; default: tail from now
        .option("partitioned", "true")   # optional; default: driver-side
        .load()
    )
"""

from __future__ import annotations

import json
import os

from pyspark.errors import PySparkNotImplementedError
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..lakehouse.table import Snapshot, commit_files

_FORMAT = "laketable_changes"
_INTERNALS = [
    T.StructField("_change_commit", T.LongType(), False),
    T.StructField("_is_delete", T.BooleanType(), False),
]

# operations that change no logical rows: safe to pass through. Anything
# NOT listed here, not "restore", and not "merge-mor" fails the stream —
# an unknown future operation must not be silently assumed row-free.
_TRANSPARENT_OPS = {
    "create",
    "compact",
    "rebucket",
    "cluster",
    "add-columns",
    "widen-columns",
    "drop-columns",
    "evolve",
}


def _read_hint(root: str) -> int:
    with open(os.path.join(root, "metadata", "version-hint.txt")) as f:
        return int(f.read().strip())


def _read_snapshot_json(root: str, sid: int) -> dict | None:
    p = os.path.join(root, "metadata", f"snapshot-{sid}.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _table_schema(root: str) -> T.StructType:
    snap = _read_snapshot_json(root, _read_hint(root))
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot at {root}")
    return T.StructType.fromJson(snap["schema"])


def _range_chain(root: str, s0: int, s1: int) -> list[dict]:
    """The commits in ``(s0, s1]`` on THIS table's chain, oldest first —
    see the module docstring's safety contract."""
    chain: list[dict] = []
    sid = int(s1)
    while sid > int(s0):
        snap = _read_snapshot_json(root, sid)
        if snap is None:
            raise RuntimeError(
                f"changelog offset {s0} is no longer retained: snapshot "
                f"{sid} on the path back from {s1} has been expired — "
                "the stream cannot prove it delivered those commits; "
                "restart from a live snapshot (or raise keep_last)"
            )
        chain.append(snap)
        parent = snap.get("parent_id")
        if parent is None:
            # chain root reached: fine iff the root itself closes the
            # range (start_snapshot=0 / "full history" lands here)
            if int(snap["snapshot_id"]) <= int(s0) + 1:
                break
            raise RuntimeError(
                f"changelog offset {s0} predates the retained chain "
                f"(oldest kept snapshot is {snap['snapshot_id']}) — "
                "history before it has been expired"
            )
        sid = int(parent)
    else:
        # the walk must LAND on s0, not step past it: snapshot ids are
        # allocated table-globally across refs, so a user-supplied
        # start_snapshot that is a branch commit (or any non-ancestor id
        # between two main-chain ids) would otherwise silently resolve
        # to the nearest ancestor BELOW it — duplicating commits the
        # caller believes it already consumed. Same ancestor contract as
        # LakeTable.changes().
        if sid != int(s0):
            # a restore in the walked range re-parents the chain, which
            # is the one legitimate way a previously-valid offset stops
            # being an ancestor — keep that case's actionable message
            # (same contract as the restore check in _range_delta_files)
            if any(
                s.get("summary", {}).get("operation") == "restore"
                for s in chain
            ):
                raise RuntimeError(
                    f"changelog offset {s0} was undone by a restore in "
                    f"({sid}, {s1}]: those rows cannot be retracted "
                    "through a changelog; re-seed the consumer from the "
                    "restored state"
                )
            if not chain:
                # s0 > s1: the while never ran, so there is no walked
                # step to report — name the offsets directly (s0 == s1
                # never reaches here: the equality check above passes
                # and the caller gets a legitimately empty range)
                raise ValueError(
                    f"start snapshot {s0} is not an ancestor of {s1}: "
                    f"it is ahead of the end of the range"
                )
            raise ValueError(
                f"start snapshot {s0} is not an ancestor of {s1}: the "
                f"parent walk steps from {chain[-1]['snapshot_id']} past "
                f"it to {sid}"
            )
    chain.reverse()
    return chain


def _range_delta_files(root: str, s0: int, s1: int) -> list[str]:
    """Relative delta-file paths of the merge-on-read commits in
    ``(s0, s1]``, commit order, applying the op safety rules."""
    rels: list[str] = []
    for snap in _range_chain(root, s0, s1):
        sid = int(snap["snapshot_id"])
        op = snap.get("summary", {}).get("operation")
        if op in _TRANSPARENT_OPS:
            continue  # folds/reshapes rows the stream already carries
        if op == "restore":
            # restore re-parents the chain onto its target, so the undone
            # commits are off this walk. Whether THIS consumer is
            # affected depends on its offset: at or before the target it
            # never consumed an undone commit (transparent); past the
            # target it holds rows the table has rewound, and no
            # changelog can retract them — re-seed.
            target = int(snap["summary"]["restored_from"])
            if int(s0) > target:
                raise RuntimeError(
                    f"snapshot {sid} restored the table to {target}, but "
                    f"this stream's offset {s0} had already consumed "
                    "commits past that point — the rewound rows cannot "
                    "be retracted through a changelog; re-seed the "
                    "consumer from the restored state"
                )
            continue
        if op != "merge-mor":
            # CoW merge: no row-level changelog. Unknown op: assume
            # nothing. Both would silently corrupt downstream state.
            raise RuntimeError(
                f"snapshot {sid} is operation {op!r}, which keeps no "
                "row-level changelog — the stream cannot represent it; "
                "use merge-on-read ingest for streamed tables"
            )
        rels += sorted(
            p for ps in commit_files(Snapshot.from_json(snap)).values() for p in ps
        )
    return rels


def _file_rows(root: str, rel: str, field_names: list[str]):
    """One delta file's changelog tuples (schema-aligned: columns added
    after the file was written null-fill)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(root, rel))
    cols = set(tbl.column_names)
    for row in tbl.to_pylist():
        yield tuple(
            row.get(c) if c in cols else None for c in field_names
        ) + (int(row["_seq"]), bool(row.get("_tombstone") or False))


class _ChangelogReader(SimpleDataSourceStreamReader):
    """Driver-side changelog reader: offsets are snapshot ids; a batch is
    the delta rows of the commits in ``(start, end]``, in commit order."""

    def __init__(self, root: str, start_snapshot: int | None, field_names: list[str]):
        self.root = root
        self.start_snapshot = start_snapshot
        self.field_names = field_names

    def initialOffset(self) -> dict:
        if self.start_snapshot is not None:
            return {"snapshot_id": int(self.start_snapshot)}
        return {"snapshot_id": _read_hint(self.root)}

    def read(self, start: dict):
        end = {"snapshot_id": _read_hint(self.root)}
        return iter(self._rows(start["snapshot_id"], end["snapshot_id"])), end

    def readBetweenOffsets(self, start: dict, end: dict):
        # recovery replay of a planned-but-uncommitted batch: offsets are
        # snapshot ids over immutable history, so the re-read is exact
        return iter(self._rows(start["snapshot_id"], end["snapshot_id"]))

    def commit(self, end: dict) -> None:
        pass  # nothing to clean: history lives in the table's snapshots

    def _rows(self, s0: int, s1: int) -> list[tuple]:
        out: list[tuple] = []
        for rel in _range_delta_files(self.root, s0, s1):
            out.extend(_file_rows(self.root, rel, self.field_names))
        return out


class _DeltaFilePartition(InputPartition):
    def __init__(self, rel: str | None):
        self.rel = rel


class _PartitionedChangelogReader(DataSourceStreamReader):
    """Executor-side changelog reader: identical offset planning, but
    each micro-batch fans out one InputPartition per delta file — the
    rows never pass through the driver."""

    def __init__(self, root: str, start_snapshot: int | None, field_names: list[str]):
        self.root = root
        self.start_snapshot = start_snapshot
        self.field_names = field_names

    def initialOffset(self) -> dict:
        if self.start_snapshot is not None:
            return {"snapshot_id": int(self.start_snapshot)}
        return {"snapshot_id": _read_hint(self.root)}

    def latestOffset(self) -> dict:
        return {"snapshot_id": _read_hint(self.root)}

    def partitions(self, start: dict, end: dict):
        rels = _range_delta_files(
            self.root, start["snapshot_id"], end["snapshot_id"]
        )
        # an offsets-advanced-but-rowless batch (metadata commits) still
        # needs ≥1 partition for the runner to plan the batch
        return [_DeltaFilePartition(r) for r in rels] or [
            _DeltaFilePartition(None)
        ]

    def read(self, partition: _DeltaFilePartition):
        if partition.rel is None:
            return iter(())
        return _file_rows(self.root, partition.rel, self.field_names)

    def commit(self, end: dict) -> None:
        pass


class LakeTableChangesDataSource(DataSource):
    """``spark.readStream.format("laketable_changes")`` — see module doc."""

    @classmethod
    def name(cls) -> str:
        return _FORMAT

    def schema(self) -> T.StructType:
        root = self.options.get("root")
        if not root:
            raise ValueError("laketable_changes needs .option('root', <table dir>)")
        # schema pinned at stream start (file-source contract): additive
        # evolution mid-stream null-fills on restart with the new schema
        return T.StructType(list(_table_schema(root).fields) + _INTERNALS)

    def _reader_args(self, schema: T.StructType):
        root = self.options["root"]
        start = self.options.get("start_snapshot")
        field_names = [f.name for f in schema.fields[: -len(_INTERNALS)]]
        return root, (int(start) if start is not None else None), field_names

    def streamReader(self, schema: T.StructType) -> _PartitionedChangelogReader:
        if str(self.options.get("partitioned", "false")).lower() != "true":
            # raising THIS error class is the documented fallback switch:
            # the runner then asks for simpleStreamReader
            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader"},
            )
        return _PartitionedChangelogReader(*self._reader_args(schema))

    def simpleStreamReader(self, schema: T.StructType) -> _ChangelogReader:
        return _ChangelogReader(*self._reader_args(schema))


def register_changelog_source(spark: SparkSession) -> str:
    """Register the format with this session; returns the format name."""
    spark.dataSource.register(LakeTableChangesDataSource)
    return _FORMAT
