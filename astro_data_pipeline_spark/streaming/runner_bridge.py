"""Bridge a streaming micro-batch into the batch-path apply.

Kept separate from ``replay.py`` so the foreachBatch closure stays tiny
and the apply logic is the SAME code the LSN-range batch loop uses
(``CdcRunner.apply_batch`` runs the loop's own per-batch steps) — one
semantics, two triggers.

``StreamApplier`` is stateful, one instance per (stream, table):

- **Batch identity is run-scoped**: ``{run_id}:epoch:{N}``. Spark's
  epoch counter restarts at 0 whenever a checkpoint directory is
  recreated, and two streams into one table both count from 0 — a bare
  ``epoch:{N}`` id would then collide with an OLD stream's committed
  batches and the skip check would silently drop the new data. The
  run_id is therefore the stream's stable identity: pair it 1:1 with
  the checkpoint dir (same run_id on restart = exactly-once resume; new
  checkpoint = new run_id).
- **The commit ledger is read once**, scoped to this run
  (``LakeTable.ledger``: this run's committed epoch ids and its
  applied-LSN high-water mark, expired commits included), and kept
  current incrementally — the per-epoch fallback re-walks the whole
  snapshot chain (one JSON parse per snapshot), O(epochs × snapshots)
  over a long drain.
- **Cross-epoch order guard**: the lake's cross-batch winner is decided
  by commit sequence, which is only correct when segments arrive in LSN
  order (the module contract in replay.py — binlog segment N seals
  before N+1). A backfilled or re-uploaded old segment would silently
  regress keys to stale values, so an epoch whose lsn range reaches
  below the high-water mark of this run's applied epochs FAILS FAST
  with a clear error instead. Producers that genuinely guarantee
  per-key cross-file ordering despite overlapping file ranges can opt
  out with ``strict_order=False``.

Hot-key detection stays per-epoch (unlike the batch replay's log-global
set): an unbounded stream has no "whole log" to sample, and each epoch
is new data — one sampled job per segment is the correct granularity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cdc.runner import CdcRunner
from ..lakehouse import LakeTable
from ..session import step


class StreamApplier:
    """Exactly-once foreachBatch sink over ``CdcRunner.apply_batch``."""

    def __init__(
        self,
        table: LakeTable,
        run_id: str,
        mode: str = "mor",
        strict_order: bool = True,
    ) -> None:
        self.table = table
        self.run_id = run_id
        self.mode = mode
        self.strict_order = strict_order
        self._committed: set[str] | None = None
        self._last_hi: int | None = None

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> dict | None:
        """Apply one micro-batch exactly-once (foreachBatch signature)."""
        # One WAL segment per epoch is bounded — pin it so the apply
        # path's multiple jobs (emptiness+lsn bounds, hot-key sample,
        # merge write) read the source ONCE instead of per job.
        batch_df = batch_df.persist()
        try:
            return self._apply_pinned(batch_df, int(epoch_id))
        finally:
            batch_df.unpersist()

    def _apply_pinned(self, batch_df: DataFrame, epoch_id: int) -> dict | None:
        if self._committed is None:
            # survives stream restarts and snapshot expiry
            self._committed, self._last_hi = self.table.ledger(self.run_id)
        runner = CdcRunner(
            batch_df.sparkSession, self.table, run_id=self.run_id, mode=self.mode
        )
        batch_id = f"{self.run_id}:epoch:{epoch_id}"
        # Bounds over the VALID rows only (plus total count, one job that
        # also materializes the cache): a single quarantine-destined row
        # carrying a garbage lsn must not poison the order guard or the
        # persisted high-water mark — a corrupt huge lsn would otherwise
        # brick every subsequent (valid) epoch on the strict-order check.
        from ..cdc.apply import valid_predicate

        ok = valid_predicate()
        with step(batch_df.sparkSession, "streaming.bounds"):
            lo_hi = batch_df.agg(
                F.min(F.when(ok, F.col("lsn"))),
                F.max(F.when(ok, F.col("lsn"))),
                F.count("*"),
            ).collect()[0]
        if int(lo_hi[2]) == 0:
            return None
        if lo_hi[0] is None:
            # Non-empty batch with zero VALID events (e.g. all-null lsn):
            # run it through apply anyway (quarantine metrics fire,
            # nothing merges) under the epoch identity instead of
            # crashing the whole stream on int(None).
            rep = runner.apply_batch(
                batch_df, batch_id=batch_id, lsn_lo=-1, lsn_hi=-1,
                committed=self._committed,
            )
            return self._record(rep)
        lo, hi = int(lo_hi[0]), int(lo_hi[1])
        if (
            self.strict_order
            and batch_id not in self._committed
            and self._last_hi is not None
            and lo <= self._last_hi
        ):
            raise ValueError(
                f"out-of-order WAL delivery: epoch {epoch_id} carries lsn "
                f"[{lo}, {hi}] at or below this stream's applied high-water "
                f"mark {self._last_hi}; commit-sequence LWW would regress "
                f"keys to stale values. Restore segment order (or pass "
                f"strict_order=False if the producer guarantees per-key "
                f"cross-file ordering)."
            )
        rep = runner.apply_batch(
            batch_df, batch_id=batch_id, lsn_lo=lo, lsn_hi=hi,
            committed=self._committed,
        )
        return self._record(rep)

    def _record(self, rep) -> dict:
        if rep.status == "applied":
            self._committed.add(rep.batch_id)
            if rep.lsn_hi is not None and int(rep.lsn_hi) >= 0:
                hi = int(rep.lsn_hi)
                self._last_hi = hi if self._last_hi is None else max(self._last_hi, hi)
        return {
            "batch_id": rep.batch_id,
            "status": rep.status,
            "totals": rep.totals,
            "snapshot_id": rep.snapshot_id,
            "n_quarantined": rep.n_quarantined,
        }

