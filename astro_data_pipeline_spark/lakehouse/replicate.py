"""Logical table-to-table replication over the change feed.

The CDC engine closing its own loop: a lake table's committed history
IS a changelog (`LakeTable.changes`), so any table can be a SOURCE for
downstream replicas — a reporting copy with fewer columns, a replica in
another storage root, a differently-bucketed copy sized for its own
query shape. This is Postgres logical replication / Debezium
re-publication restated on lake-table machinery, and the same pattern
the reference's staging→catalog promote implements by re-running
ingest (DataIngestionService): here the replica consumes the NET
per-key diff instead of the raw WAL, so a thousand-event flip-flop on
one key crosses the wire once.

Guarantees, all inherited from existing machinery rather than
re-implemented:

- **Exactly-once**: each sync is one MERGE on the replica stamped with
  ``batch_id = "repl:<src_root>:<from>-><to>"`` and ``lsn_hi = <to>``
  under run scope ``replication:<src_root>``. The sync horizon is that
  scope's high-water mark on the replica's ledger (``LakeTable.ledger``):
  atomic with the applied rows, kept through compaction and expiry, one
  per source. A sync commits on the replica head it read the horizon
  from, so neither a retry nor a racing sync double-applies a range —
  exactly like the matview refresh horizon.
- **O(changed rows)**: the source side scans only the delta files of
  the in-range commits (``changes()``), projected to the replica's
  columns, so a column-pruned replica never moves the source's payload
  column.
- **Ordering**: the net diff is keyed, not ordered — the replica MERGE
  applies it as one atomic batch, so the replica is always a
  point-in-time consistent snapshot of the source (at ``to``), never a
  torn intermediate.

The replica is an ordinary LakeTable: it can have its own bucket
count, its own clustering, its own matviews, branches, and further
replicas (fan-out chains compose because each hop has its own ledger).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from .table import LakeTable


class Replicator:
    """Incremental one-way sync of a source LakeTable into a replica.

    ``columns``: value columns to replicate (default all). Key columns
    always replicate — they are the merge identity on both sides.
    """

    def __init__(
        self,
        source: LakeTable,
        replica: LakeTable,
        columns: list[str] | None = None,
    ):
        self.source = source
        self.replica = replica
        self._scope = f"replication:{source.root}"
        src_snap = source.current_snapshot()
        rep_snap = replica.current_snapshot()
        if src_snap is None or rep_snap is None:
            raise FileNotFoundError("source and replica must both exist")
        if list(rep_snap.key_cols) != list(src_snap.key_cols):
            raise ValueError(
                f"replica key {rep_snap.key_cols} != source key {src_snap.key_cols}"
            )
        src_vals = [
            f.name for f in src_snap.schema.fields if f.name not in src_snap.key_cols
        ]
        # columns=None means "replicate everything": the column list is
        # re-derived per sync so source schema evolution flows through
        self._all_columns = columns is None
        self._columns = list(columns) if columns is not None else None
        bad = [c for c in (self._columns or ()) if c not in src_vals]
        if bad:
            raise ValueError(f"not source value column(s): {bad}")

    @property
    def columns(self) -> list[str]:
        """Replicated value columns — re-derived from the CURRENT source
        schema for replicate-all replicas, so a column added upstream
        starts replicating on the next sync."""
        if not self._all_columns:
            return list(self._columns)
        snap = self.source.current_snapshot()
        return [f.name for f in snap.schema.fields if f.name not in snap.key_cols]

    @classmethod
    def create_replica(
        cls,
        source: LakeTable,
        root: str,
        columns: list[str] | None = None,
        n_buckets: int | None = None,
    ) -> "Replicator":
        """Create an empty replica table shaped for ``columns`` (its own
        bucket count — a replica sized for its own query load), seeded
        by one initial full sync."""
        src_snap = source.current_snapshot()
        if src_snap is None:
            raise FileNotFoundError(f"no committed snapshot at {source.root}")
        key_cols = list(src_snap.key_cols)
        fields = {f.name: f for f in src_snap.schema.fields}
        src_vals = [
            f.name for f in src_snap.schema.fields if f.name not in key_cols
        ]
        vals = columns if columns is not None else src_vals
        # validate BEFORE touching disk: a bad column list must not leave
        # a half-created replica directory behind (and an unknown name
        # should be a ValueError, not a KeyError from the schema dict)
        bad = [c for c in vals if c not in src_vals]
        if bad:
            raise ValueError(f"not source value column(s): {bad}")
        schema = T.StructType(
            [fields[k] for k in key_cols] + [fields[c] for c in vals]
        )
        replica = LakeTable.create(
            source.spark,
            root,
            schema,
            key_cols,
            n_buckets=n_buckets or src_snap.n_buckets,
        )
        # pass the ORIGINAL columns arg: None must stay "replicate all"
        # so upstream schema evolution flows through future syncs
        r = cls(source, replica, columns=columns)
        r._initial_sync(src_snap)
        return r

    # -- sync ----------------------------------------------------------

    def _summary(self, frm, to: int) -> dict:
        return {
            "batch_id": f"repl:{self.source.root}:{frm}->{to}",
            "run_scope": self._scope,
            "lsn_hi": to,
        }

    def _initial_sync(self, src_snap) -> None:
        key_cols = src_snap.key_cols
        rows = (
            self.source.read(snapshot=src_snap)
            .select(*key_cols, *self.columns)
            .withColumn("op", F.lit("insert"))
        )
        self.replica.merge(
            rows, summary=self._summary("init", src_snap.snapshot_id)
        )

    def sync(self, mode: str = "mor", evolve: bool = True) -> dict:
        """Apply the source's net changes since the last sync as ONE
        atomic MERGE on the replica. ``mode='mor'`` appends (the
        steady-state shape); ``'cow'`` rewrites touched buckets.

        ``evolve`` (default on): source schema evolution flows through —
        a replicate-all replica picks up columns added upstream (the
        changelog emits them with the ``to`` schema; the merge's
        ``evolve_schema`` adds them to the replica), and a losslessly
        WIDENED replicated column widens the replica the same way. With
        ``evolve=False`` an evolved batch fails the replica's
        conformance check loudly instead.

        ``from`` is this source's mark on the replica ledger at the
        replica head, and the merge (evolve commit included) commits on
        that head, so a sync committed meanwhile by another handle raises
        ``CommitConflictError``. A replica with no mark from this source
        raises: resuming from a guess would double-apply."""
        src_snap = self.source.current_snapshot()
        to = src_snap.snapshot_id
        rep_snap = self.replica.current_snapshot()
        frm = self.replica.ledger(self._scope, snapshot=rep_snap).lsn_hi
        if frm is None:
            raise ValueError(
                f"replication horizon lost (no sync from {self.source.root} "
                "on the replica's ledger); re-seed with create_replica"
            )
        if to == frm:
            return {"from": frm, "to": to, "noop": True}
        cols = self.columns
        ch = self.source.changes(frm, to, columns=cols)
        key_cols = src_snap.key_cols
        rows = ch.select(
            *key_cols,
            *cols,
            F.when(F.col("change_type") == "delete", "delete")
            .otherwise("upsert")
            .alias("op"),
        )
        fn = self.replica.merge_mor if mode == "mor" else self.replica.merge
        _, metrics = fn(
            rows, summary=self._summary(frm, to), evolve_schema=evolve, snapshot=rep_snap
        )
        return {"from": frm, "to": to, "noop": False, **metrics}
