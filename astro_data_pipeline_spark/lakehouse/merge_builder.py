"""Declarative MERGE: Delta/Iceberg ``MERGE INTO`` clause surface.

The engine's core :meth:`LakeTable.merge` takes pre-routed rows (an
``op`` column computed upstream — the CDC replay shape, where the WAL
already says insert/update/delete). Real MERGE INTO is richer: the
routing DECISION lives in the statement —

    MERGE INTO t USING s ON t.k = s.k
    WHEN MATCHED AND <cond> THEN UPDATE SET col = <expr over s and t>
    WHEN MATCHED AND <cond> THEN DELETE
    WHEN NOT MATCHED AND <cond> THEN INSERT (...)

— with conditions and SET expressions over BOTH sides. That buys the
CDC patterns the op-column shape can't express: out-of-order guards
(update only when ``s.lsn > t.lsn``), partial-column patches (SET one
column, keep the rest — Debezium partial images), accumulate-on-merge
(``SET n = t.n + s.n``), and conditional inserts.

This builder compiles the clause list into the engine's existing merge:
one bucket-pruned left join of the source against the stored state
evaluates every clause (first matching clause wins, Delta semantics),
producing full rows + a routing op; unrouted rows are dropped (MERGE's
"no clause applies → leave the row alone" is literally not emitting a
row — the engine's merge treats absent keys as no-ops). The compiled
rows then flow through ``merge`` (CoW: the rows are the touched buckets'
newest delta in one bucket rewrite) or ``merge_mor`` (the O(batch)
ingest path) unchanged, inheriting conformance checks, schema
evolution, atomic commit, and the batch ledger. Either consumes them in
one write action, so the clause join runs once.

Cost model: the clause join reads only the buckets the source touches
(same pruning as the apply path); at 10^10 rows the extra read vs the
op-column path is the stored values of touched buckets — the price of
referencing ``t.*`` in conditions at all, paid only by queries that
need it (a CoW rewrite scans those buckets again to rewrite them).

Reference analog: the upsert in DataIngestionService (staging →
catalog promote) is a plain key replace; the reference has no
conditional-merge surface — this is engine surface the Spark-first
design adds.
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import step
from .table import LakeTable, bucket_expr, is_lossless_widening


@dataclass(frozen=True)
class _Clause:
    kind: str  # "update" | "delete" | "insert"
    condition: Column | None
    assignments: dict | None  # col -> Column (update SET / insert VALUES)


class MergeBuilder:
    """Fluent MERGE-INTO builder over a :class:`LakeTable`.

    The source is aliased ``s`` and the target ``t``: conditions and
    assignment expressions reference columns as ``F.col("s.value")`` /
    ``F.col("t.value")``. The merge key is the table's key (bucketed
    layout pins the join); the source must be key-collapsed (≤1 row per
    key), same contract as ``merge``. Clauses of each match class are
    evaluated in registration order; the first whose condition holds
    wins the row.
    """

    def __init__(self, table: LakeTable, source: DataFrame):
        self.table = table
        self.source = source
        self._matched: list[_Clause] = []
        self._not_matched: list[_Clause] = []

    # -- clause registration (fluent) ----------------------------------

    def when_matched_update(
        self, set: dict, condition: Column | None = None
    ) -> "MergeBuilder":
        """WHEN MATCHED [AND cond] THEN UPDATE SET {col: expr}. Columns
        absent from ``set`` keep their target value (partial update).
        Assignments to merge-key columns are refused (same guard as
        ``update_where``): the compiled output always carries keys from
        the source side, so a key SET would otherwise be silently
        ignored — Delta raises here, and so do we."""
        if not set:
            raise ValueError("update clause needs at least one assignment")
        self._refuse_key_assignments(set, "UPDATE SET")
        self._matched.append(_Clause("update", condition, dict(set)))
        return self

    def when_matched_delete(self, condition: Column | None = None) -> "MergeBuilder":
        """WHEN MATCHED [AND cond] THEN DELETE."""
        self._matched.append(_Clause("delete", condition, None))
        return self

    def when_not_matched_insert(
        self, values: dict | None = None, condition: Column | None = None
    ) -> "MergeBuilder":
        """WHEN NOT MATCHED [AND cond] THEN INSERT. ``values`` defaults
        to the source's same-named columns; table columns the source
        lacks null-fill (the additive-evolution contract). Explicit
        VALUES for merge-key columns are refused — inserted rows always
        take their key from the source row that failed to match, and a
        differing explicit key would be silently dropped otherwise."""
        if values:
            self._refuse_key_assignments(values, "INSERT VALUES")
        self._not_matched.append(_Clause("insert", condition, dict(values or {})))
        return self

    def _refuse_key_assignments(self, assignments: dict, where: str) -> None:
        snap = self.table.current_snapshot()
        keys = set(snap.key_cols) if snap is not None else set()
        bad = sorted(k for k in assignments if k in keys)
        if bad:
            raise ValueError(
                f"{where} assigns merge key column(s) {bad}; keys are "
                "immutable in MERGE (the output row always carries the "
                "source key) — delete+insert under a new key instead"
            )

    # -- compile + execute ---------------------------------------------

    def execute(self, mode: str = "cow", summary: dict | None = None):
        """Compile the clauses and commit. ``mode``: ``cow`` (rewrite
        touched buckets) or ``mor`` (append routed delta rows). Returns
        ``(snapshot, metrics)`` from the underlying merge."""
        if not self._matched and not self._not_matched:
            raise ValueError("MERGE with no clauses")
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown mode {mode!r}")
        cur = self.table.current_snapshot()
        if cur is None:
            raise FileNotFoundError(f"no committed snapshot at {self.table.root}")
        key_cols = cur.key_cols
        val_cols = [f.name for f in cur.schema.fields if f.name not in key_cols]
        src_cols = set(self.source.columns)
        missing = [k for k in key_cols if k not in src_cols]
        if missing:
            raise ValueError(f"source lacks merge key column(s) {missing}")

        # conform source KEY types to the table BEFORE hashing/joining:
        # bucket_expr is type-sensitive (xxhash64(int k) != xxhash64(bigint
        # k)), so an unconformed narrower key would prune the wrong buckets
        # and misclassify every existing key as NOT MATCHED — silently
        # dropped updates and live rows overwritten by insert clauses
        source = self.source
        tbl_types = {f.name: f.dataType for f in cur.schema.fields}
        for f in source.schema.fields:
            if f.name in key_cols and f.dataType != tbl_types[f.name]:
                if is_lossless_widening(f.dataType, tbl_types[f.name]):
                    source = source.withColumn(
                        f.name, F.col(f.name).cast(tbl_types[f.name])
                    )
                else:
                    raise ValueError(
                        f"source key column {f.name!r} has type "
                        f"{f.dataType.simpleString()}, table expects "
                        f"{tbl_types[f.name].simpleString()}: cast the "
                        "source explicitly (a lossy implicit cast could "
                        "silently merge under the wrong key)"
                    )
        src = source.alias("s")
        # bucket pruning: the clause join touches only the source's buckets
        with step(self.table.spark, "table.merge"):
            tb = sorted(
                r[0]
                for r in src.select(bucket_expr(key_cols, cur.n_buckets).alias("b"))
                .distinct()
                .collect()
            )
        tgt = (
            self.table.read(snapshot=cur, buckets=tb)
            .withColumn("_t_present", F.lit(True))
            .alias("t")
        )
        joined = src.join(
            tgt,
            on=functools.reduce(
                operator.and_,
                [
                    F.col(f"s.{k}").eqNullSafe(F.col(f"t.{k}"))
                    for k in key_cols
                ],
            ),
            how="left",
        )
        matched = F.coalesce(F.col("t._t_present"), F.lit(False))

        def _cond(c: _Clause) -> Column:
            return c.condition if c.condition is not None else F.lit(True)

        # first-match-wins routing: clause i applies iff its guard holds
        # and no earlier clause of its match class applied
        def _applies(clauses: list[_Clause], base: Column) -> list[Column]:
            out, taken = [], F.lit(False)
            for c in clauses:
                this = base & ~taken & F.coalesce(_cond(c), F.lit(False))
                out.append(this)
                taken = taken | this
            return out

        m_applies = _applies(self._matched, matched)
        i_applies = _applies(self._not_matched, ~matched)

        # routing op: delete / upsert / absent (= leave the row alone)
        op = F.lit(None).cast("string")
        for c, ap in zip(self._matched, m_applies):
            op = F.when(ap, "delete" if c.kind == "delete" else "upsert").otherwise(op)
        for _c, ap in zip(self._not_matched, i_applies):
            op = F.when(ap, "upsert").otherwise(op)

        def _insert_val(c: _Clause, col: str) -> Column:
            if c.assignments and col in c.assignments:
                return c.assignments[col]
            if col in src_cols:
                return F.col(f"s.{col}")
            return F.lit(None)

        out_cols = [F.col(f"s.{k}").alias(k) for k in key_cols]
        for col in val_cols:
            # build from the BOTTOM of the precedence chain upward: the
            # fallback (keep the target value) is overridden by matching
            # update clauses, then by insert clauses
            expr = F.col(f"t.{col}")
            for c, ap in zip(self._matched, m_applies):
                if c.kind == "update":
                    expr = F.when(
                        ap, c.assignments.get(col, F.col(f"t.{col}"))
                    ).otherwise(expr)
            for c, ap in zip(self._not_matched, i_applies):
                expr = F.when(ap, _insert_val(c, col)).otherwise(expr)
            out_cols.append(expr.alias(col))

        rows = joined.select(*out_cols, op.alias("_mb_op")).filter(
            F.col("_mb_op").isNotNull()
        )
        # commit on the snapshot the clause join read: a commit landing in
        # between would otherwise be overwritten by rows routed against
        # state it replaced
        if mode == "mor":
            return self.table.merge_mor(rows, op_col="_mb_op", summary=summary, snapshot=cur)
        return self.table.merge(
            rows, op_col="_mb_op", summary=summary, snapshot=cur, touched_buckets=tb
        )
