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

Safety contract (shared with ``LakeTable.changes``):
a batch ``(start, end]`` is ``changelog_commits(commits_between(...))``
from ``lakehouse/table.py`` — see ``commits_between`` for the walk and
its refusals (non-ancestor, restore-undone or expired offsets) and
``changelog_commits`` for the operation policy (maintenance and schema
commits are transparent; a CoW merge or unknown operation fails the
stream).

Each micro-batch fans out one ``InputPartition`` per delta file, read
executor-side: the rows never pass through the driver, however large
the commits in the batch.

Usage::

    from astro_data_pipeline_spark.streaming.source import (
        register_changelog_source,
    )
    register_changelog_source(spark)
    df = (
        spark.readStream.format("laketable_changes")
        .option("root", table.root)
        .option("start_snapshot", "0")   # optional; default: tail from now
        .load()
    )
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from ..lakehouse.table import (
    changelog_commits,
    commit_files,
    commits_between,
    read_hint,
    read_snapshot,
)

_FORMAT = "laketable_changes"
_INTERNALS = [
    T.StructField("_change_commit", T.LongType(), False),
    T.StructField("_is_delete", T.BooleanType(), False),
]


def _meta(root: str) -> str:
    return os.path.join(root, "metadata")


def _head(root: str) -> int | None:
    return read_hint(_meta(root), "main")


def _changelog_files(root: str, s0: int, s1: int) -> list[str]:
    """Relative delta-file paths of the commits in ``(s0, s1]`` that
    carry a row-level changelog, in commit order."""
    chain = commits_between(_meta(root), int(s0), int(s1))
    return [
        rel
        for snap in changelog_commits(chain)
        for rel in sorted(p for ps in commit_files(snap).values() for p in ps)
    ]


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


class _DeltaFilePartition(InputPartition):
    def __init__(self, rel: str | None):
        self.rel = rel


class _ChangelogReader(DataSourceStreamReader):
    """Changelog reader: offsets are snapshot ids; a batch is the delta
    rows of the commits in ``(start, end]``, one InputPartition per delta
    file, listed in commit order (every row carries its commit seq)."""

    def __init__(self, root: str, start_snapshot: int | None, field_names: list[str]):
        self.root = root
        self.start_snapshot = start_snapshot
        self.field_names = field_names

    def initialOffset(self) -> dict:
        if self.start_snapshot is not None:
            return {"snapshot_id": int(self.start_snapshot)}
        return {"snapshot_id": _head(self.root)}

    def latestOffset(self) -> dict:
        return {"snapshot_id": _head(self.root)}

    def partitions(self, start: dict, end: dict):
        rels = _changelog_files(
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
        snap = read_snapshot(_meta(root), _head(root))
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot at {root}")
        return T.StructType(list(snap.schema.fields) + _INTERNALS)

    def streamReader(self, schema: T.StructType) -> _ChangelogReader:
        start = self.options.get("start_snapshot")
        return _ChangelogReader(
            self.options["root"],
            int(start) if start is not None else None,
            [f.name for f in schema.fields[: -len(_INTERNALS)]],
        )


def register_changelog_source(spark: SparkSession) -> str:
    """Register the format with this session; returns the format name."""
    spark.dataSource.register(LakeTableChangesDataSource)
    return _FORMAT
