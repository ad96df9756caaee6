"""Incremental aggregate materialized views maintained by the change feed.

The canonical downstream consumer of a CDC engine: a per-group aggregate
table (file counts, byte totals, latest-LSN watermarks per repo/lang)
kept current by applying the table's NET change feed
(``LakeTable.changes(..., with_preimage=True)``) instead of recomputing
the aggregate over the full base table on every refresh. Reference
analog: the processing-summary / quality-metrics rollups the Airflow DAGs
recompute per run (data_quality_monitoring.py:214-340 aggregates the
whole observation table each cycle); at 10^10 rows the only sustainable
shape is O(changed rows) maintenance — the Materialize/Flink "dynamic
table" restated on lake-table machinery.

Design:

- The view IS a :class:`LakeTable` keyed by the group columns, so it
  inherits the whole stack for free: bucketed MERGE apply, time travel,
  branches, optimistic concurrency, and — load-bearing here — the
  exactly-once batch ledger. Each refresh commits ONCE with
  ``batch_id = "mv:<from>-><to>"`` and ``lsn_hi = <to>``; the view's
  horizon is its ledger's high-water mark (``LakeTable.ledger``), atomic
  with the refreshed state and kept through compaction and expiry. A
  refresh commits on the view head it read the horizon from, so neither
  a retry nor a racing refresh ever double-applies a delta range.
- **Retractable aggregates** (count / sum / avg) maintain running
  storage columns: ``new = old + Σ(post contributions) − Σ(pre-image
  contributions)``. One aggregation over the changed rows, one
  bucket-pruned join against the stored groups, one MERGE — refresh cost
  is O(changed rows), independent of base-table size.
- **Semi-retractable aggregates** (min / max) grow monotonically from
  post-images (``greatest(stored, batch_max)``). A group is DIRTY only
  when its stored extreme can really be gone: a retraction reaches it
  (``_r >= stored`` for max) AND no post-image does (``_g`` NULL or
  ``_g < stored``); flipped for min. That rule is exact: net post-images
  are live at ``to`` and every surviving old value is within the stored
  extreme, so a ``_g`` that reaches it is the new extreme. Dirty groups
  alone are recomputed from the base table (semi-join pushdown). A
  refresh whose delta holds no group that COULD be dirty (``_r`` beating
  the group's own ``_g``) skips the dirty probe and the rescan outright;
  a ``max(lsn)`` view fed LSN-ordered updates never rescans. At 100 TB
  the rescan prunes to the dirty groups' rows only if the base is
  clustered by the group dimension (``cluster_by``); the docstring cost
  model is honest about that.
- A group whose live-row count reaches zero is DELETED from the view
  (and resurrects cleanly if rows return); a group column changing in an
  update moves the row's contribution between groups (pre-image retracts
  from the old group, post-image adds to the new one) — both fall out of
  the union-of-signed-contributions shape rather than special cases.

Exactness contract: the "incremental ≡ full recompute" invariant is
bit-exact for integral measures (count, and sum/avg over integer
columns — double storage is exact below 2^53). For sums of ARBITRARY
doubles it holds only to floating-point associativity: ``old + Σpost −
Σpre`` and a fresh single-pass sum can differ in the last ulp after
retraction cycles. Consumers comparing such a view against a recompute
should use a tolerance (or carry a decimal measure column); the shipped
gate query aggregates integer LSNs, where equality is exact.

Nothing here is a port: the reference recomputes its rollups from
scratch per DAG run and has no incremental-view machinery.
"""

from __future__ import annotations

import functools
import json
import operator
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import materialize_barrier, step
from .table import LakeTable, bucket_expr, null_safe_join as _null_safe_join

_KINDS = ("count", "sum", "avg", "min", "max")
_RETRACTABLE = ("count", "sum", "avg")


@dataclass(frozen=True)
class AggSpec:
    """One maintained aggregate: ``kind`` ∈ count|sum|avg|min|max,
    ``col`` the base column (None for count), ``alias`` the output name."""

    kind: str
    col: str | None
    alias: str

    def __post_init__(self) -> None:
        if self.kind not in _KINDS:
            raise ValueError(f"unknown agg kind {self.kind!r}")
        if self.kind != "count" and not self.col:
            raise ValueError(f"{self.kind} needs a source column")


def _sum_type(src: T.DataType) -> T.DataType:
    if isinstance(
        src, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        return T.LongType()
    return T.DoubleType()


def _lost(s: AggSpec, ref: F.Column) -> F.Column:
    """True where the min/max spec ``s`` may have lost the extreme
    ``ref`` in a delta row: a retracted value reaches it (``_r >= ref``
    for max) and no post-image does (``_g`` NULL or ``_g < ref``);
    flipped for min. NULL operands give False.

    Against the stored extreme this is the exact dirty rule. Net
    post-images are live at ``to`` and every surviving old value is
    within the stored extreme, so a ``_g`` that reaches it IS the new
    extreme, which ``greatest(stored, _g)`` already gives."""
    r, g = F.col(f"_r_{s.alias}"), F.col(f"_g_{s.alias}")
    if s.kind == "max":
        lost = (r >= ref) & (g.isNull() | (g < ref))
    else:
        lost = (r <= ref) & (g.isNull() | (g > ref))
    return F.coalesce(lost, F.lit(False))


class IncrementalAggView:
    """A per-group aggregate LakeTable maintained from the base table's
    net change feed. See module docstring for the maintenance algebra."""

    _META = "mv.json"
    _N = "_mv_n"  # live rows per group (group-death detector)
    _SCOPE = "mv-refresh"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        base: LakeTable,
        specs: list[AggSpec],
        write_mode: str = "cow",
    ):
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"unknown write_mode {write_mode!r}")
        self.spark = spark
        self.root = root
        self.base = base
        self.specs = specs
        self.write_mode = write_mode
        self.table = LakeTable.load(spark, root)
        self.group_cols = list(self.table.current_snapshot().key_cols)

    # -- lifecycle -----------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        base: LakeTable,
        group_cols: list[str],
        specs: list[AggSpec],
        n_buckets: int = 8,
        write_mode: str = "cow",
    ) -> "IncrementalAggView":
        """Create the view table and seed it with a FULL computation at
        the base's current snapshot (the one O(base) pass the view ever
        makes outside dirty-extreme rescans).

        ``write_mode``: how refreshes commit. ``cow`` (default) rewrites
        touched view buckets — read-optimal, right for a leaf view.
        ``mor`` appends refresh deltas, which keeps the view's own
        row-level changelog alive: ``changes()`` works across refreshes,
        so REPLICAS AND FURTHER VIEWS can stack on this one (cascaded
        incremental maintenance); compact the view on your own cadence."""
        aliases = [s.alias for s in specs]
        if len(set(aliases)) != len(aliases):
            raise ValueError("duplicate agg aliases")
        if write_mode not in ("cow", "mor"):
            # validate BEFORE touching disk: failing in __init__ after
            # LakeTable.create leaves an orphaned half-initialized view
            raise ValueError(f"unknown write_mode {write_mode!r}")
        base_snap = base.current_snapshot()
        base_types = {f.name: f for f in base_snap.schema.fields}
        for c in group_cols:
            if c not in base_types:
                raise ValueError(f"group column {c!r} not in base schema")
        for s in specs:
            if s.col is not None and s.col not in base_types:
                raise ValueError(f"agg column {s.col!r} not in base schema")

        fields = [
            T.StructField(c, base_types[c].dataType, base_types[c].nullable)
            for c in group_cols
        ]
        fields.append(T.StructField(cls._N, T.LongType(), False))
        for s in specs:
            if s.kind == "count":
                fields.append(T.StructField(s.alias, T.LongType(), False))
            elif s.kind in ("sum", "avg"):
                st = (
                    T.DoubleType()
                    if s.kind == "avg"
                    else _sum_type(base_types[s.col].dataType)
                )
                fields.append(T.StructField(f"{s.alias}__s", st, True))
                fields.append(T.StructField(f"{s.alias}__n", T.LongType(), False))
            else:  # min / max
                fields.append(
                    T.StructField(s.alias, base_types[s.col].dataType, True)
                )
        LakeTable.create(
            spark, root, T.StructType(fields), group_cols, n_buckets=n_buckets
        )
        meta = {
            "base_root": base.root,
            "group_cols": group_cols,
            "specs": [{"kind": s.kind, "col": s.col, "alias": s.alias} for s in specs],
            "write_mode": write_mode,
        }
        with open(os.path.join(root, cls._META), "w") as f:
            json.dump(meta, f)
        view = cls(spark, root, base, specs, write_mode=write_mode)
        state = view._full_storage(base_snap)
        view.table.merge(
            state.withColumn("op", F.lit("insert")),
            summary=cls._summary("init", base_snap.snapshot_id),
        )
        return view

    @classmethod
    def load(
        cls, spark: SparkSession, root: str, base: LakeTable | None = None
    ) -> "IncrementalAggView":
        with open(os.path.join(root, cls._META)) as f:
            meta = json.load(f)
        if base is None:
            base = LakeTable.load(spark, meta["base_root"])
        specs = [AggSpec(**d) for d in meta["specs"]]
        return cls(
            spark, root, base, specs, write_mode=meta.get("write_mode", "cow")
        )

    @classmethod
    def _summary(cls, frm, to: int) -> dict:
        """The ledger fields of a commit applying base range ``(frm, to]``
        (``frm`` is ``"init"``/``"full"`` for a full computation).
        ``mv_refresh_to`` repeats ``lsn_hi`` for history readers."""
        return {
            "batch_id": f"mv:{frm}->{to}",
            "run_scope": cls._SCOPE,
            "lsn_hi": to,
            "mv_refresh_to": to,
        }

    # -- reads ---------------------------------------------------------

    def _emit(self, storage: DataFrame) -> DataFrame:
        """Storage columns → user-facing aggregate columns (SQL null
        semantics: sum/avg/min/max over zero non-null inputs are NULL)."""
        cols = [F.col(c) for c in self.group_cols]
        for s in self.specs:
            if s.kind == "count":
                cols.append(F.col(s.alias))
            elif s.kind == "sum":
                cols.append(
                    F.when(F.col(f"{s.alias}__n") > 0, F.col(f"{s.alias}__s")).alias(
                        s.alias
                    )
                )
            elif s.kind == "avg":
                cols.append(
                    F.when(
                        F.col(f"{s.alias}__n") > 0,
                        F.col(f"{s.alias}__s") / F.col(f"{s.alias}__n"),
                    ).alias(s.alias)
                )
            else:
                cols.append(F.col(s.alias))
        return storage.select(*cols)

    def read(self) -> DataFrame:
        """The view's current contents in user-facing shape."""
        return self._emit(self.table.read())

    def full_compute(self, snapshot=None) -> DataFrame:
        """The same user-facing aggregate computed directly from the base
        table (the equivalence oracle for tests / audits)."""
        return self._emit(self._full_storage(snapshot))

    def _full_storage(self, snapshot=None) -> DataFrame:
        rows = self.base.read(snapshot=snapshot)
        stype = self._sum_types(self.table.current_snapshot())
        aggs = [F.count(F.lit(1)).alias(self._N)]
        for s in self.specs:
            if s.kind == "count":
                aggs.append(F.count(F.lit(1)).alias(s.alias))
            elif s.kind in ("sum", "avg"):
                st = stype[s.alias]
                aggs.append(
                    F.coalesce(F.sum(F.col(s.col).cast(st)), F.lit(0).cast(st)).alias(
                        f"{s.alias}__s"
                    )
                )
                aggs.append(F.count(F.col(s.col)).alias(f"{s.alias}__n"))
            elif s.kind == "min":
                aggs.append(F.min(s.col).alias(s.alias))
            else:
                aggs.append(F.max(s.col).alias(s.alias))
        return rows.groupBy(*self.group_cols).agg(*aggs)

    def _sum_types(self, vsnap) -> dict[str, T.DataType]:
        """alias -> storage type of each sum/avg running sum, read from
        one view snapshot's schema."""
        f = {x.name: x.dataType for x in vsnap.schema.fields}
        return {
            s.alias: f[f"{s.alias}__s"]
            for s in self.specs
            if s.kind in ("sum", "avg")
        }

    # -- incremental maintenance ---------------------------------------

    def refresh(self, full: bool = False) -> dict:
        """Advance the view to the base's current snapshot.

        Incremental path: one ``changes(from, to, with_preimage=True)``
        scan (O(changed rows)), signed-contribution aggregation per
        group, pinned; one job over it for the touched view buckets and
        the count of groups that could have lost a min/max; a
        bucket-pruned join against stored state; one MERGE. Only when
        that count is non-zero does the refresh pin the joined rows, probe
        them for dirty groups (a retraction reached the stored extreme
        and no post-image did) and rescan the base for those groups.
        ``full=True`` recomputes every group from the base head instead
        (the escape hatch for a range the changelog cannot replay, or a
        view restored to before its seed, whose ledger holds no refresh).

        The returned stats carry ``dirty_candidates`` and
        ``dirty_rescans``; the refresh commit's summary records
        ``mv_dirty_rescans``, so ``view.table.history()`` shows per
        refresh whether it rescanned.

        ``from`` is the view ledger's high-water mark at the view head,
        and the refresh commits on that head, so a refresh committed
        meanwhile by another handle raises ``CommitConflictError``
        instead of landing the range twice."""
        base_snap = self.base.current_snapshot()
        to = base_snap.snapshot_id
        if full:
            return self._refresh_full(base_snap)
        vsnap = self.table.current_snapshot()
        frm = self.table.ledger(self._SCOPE, snapshot=vsnap).lsn_hi
        if frm is None:
            raise ValueError(
                "refresh horizon lost (no refresh on the view's ledger); "
                "run refresh(full=True) to rebuild"
            )
        if to == frm:
            return {"from": frm, "to": to, "noop": True}

        gcols = self.group_cols
        need = {s.col for s in self.specs if s.col is not None}
        # every column the contribution rows carry, deduped (a group col
        # may double as an agg col)
        carry = gcols + [c for c in sorted(need) if c not in gcols]
        base_keys = set(base_snap.key_cols)
        stype = self._sum_types(vsnap)
        ext_specs = [s for s in self.specs if s.kind in ("min", "max")]
        # projected changelog: the base's payload columns (content blobs)
        # must never ride the refresh shuffle
        with step(self.spark, "matview.changes_plan"):
            ch = self.base.changes(
                frm,
                to,
                with_preimage=True,
                columns=[c for c in carry if c not in base_keys],
            )

        def _pre_src(c: str) -> F.Column:
            # base KEY columns have no pre-image (a key cannot change
            # under the same key) — the post value IS the pre value
            return F.col(c) if c in base_keys else F.col(f"_pre_{c}")

        post = ch.filter(F.col("change_type") != "delete").select(
            *carry, F.lit(1).alias("_w")
        )
        pre = ch.filter(F.col("change_type") != "insert").select(
            *[_pre_src(c).alias(c) for c in carry], F.lit(-1).alias("_w")
        )
        contrib = post.unionByName(pre)

        aggs = [F.sum("_w").alias("_dn")]
        for s in self.specs:
            if s.kind == "count":
                aggs.append(F.sum("_w").alias(f"_d_{s.alias}"))
            elif s.kind in ("sum", "avg"):
                st = stype[s.alias]
                aggs.append(
                    F.coalesce(
                        F.sum(F.col("_w").cast(st) * F.col(s.col).cast(st)),
                        F.lit(0).cast(st),
                    ).alias(f"_ds_{s.alias}")
                )
                aggs.append(
                    F.coalesce(
                        F.sum(F.when(F.col(s.col).isNotNull(), F.col("_w"))),
                        F.lit(0),
                    ).alias(f"_dnn_{s.alias}")
                )
            else:
                ext = F.max if s.kind == "max" else F.min
                grow = F.when(F.col("_w") == 1, F.col(s.col))
                shrink = F.when(F.col("_w") == -1, F.col(s.col))
                aggs.append(ext(grow).alias(f"_g_{s.alias}"))
                aggs.append(ext(shrink).alias(f"_r_{s.alias}"))
        delta = contrib.groupBy(*gcols).agg(*aggs)
        # A dirty group has _r reaching the stored extreme, which in turn
        # exceeds _g (see _lost), so a group whose retracted extreme does
        # not beat its own growth can never be dirty, whatever is stored
        can_lose = functools.reduce(
            operator.or_,
            [_lost(s, F.col(f"_r_{s.alias}")) for s in ext_specs],
            F.lit(False),
        )
        with step(self.spark, "matview.delta"):
            # one row per changed group, consumed by the summary job below,
            # the merge and — only when some group can be dirty — the rows
            # barrier: pin it once instead of re-running the changes() scan
            # per consumer
            delta = materialize_barrier(delta, eager=True)
            # one job over the pinned delta: the view buckets it touches,
            # and how many groups COULD have lost a stored extreme
            summ = delta.agg(
                F.collect_set(bucket_expr(gcols, vsnap.n_buckets)).alias("tb"),
                F.count(F.when(can_lose, 1)).alias("n_can"),
            ).first()
        tb = sorted(summ["tb"])
        n_can = summ["n_can"]
        # stored state for exactly the touched groups: bucket-pruned read
        with step(self.spark, "matview.stored"):
            stored = self.table.read(snapshot=vsnap, buckets=tb if tb else None)
            merged = _null_safe_join(delta, stored, gcols, "left")

        n_new = F.coalesce(F.col(self._N), F.lit(0)) + F.col("_dn")
        out_cols = [F.col(c) for c in gcols] + [n_new.alias(self._N)]
        dirty_flags = []
        for s in self.specs:
            if s.kind == "count":
                out_cols.append(
                    (F.coalesce(F.col(s.alias), F.lit(0)) + F.col(f"_d_{s.alias}"))
                    .alias(s.alias)
                )
            elif s.kind in ("sum", "avg"):
                st = stype[s.alias]
                out_cols.append(
                    (
                        F.coalesce(F.col(f"{s.alias}__s"), F.lit(0).cast(st))
                        + F.col(f"_ds_{s.alias}")
                    ).alias(f"{s.alias}__s")
                )
                out_cols.append(
                    (
                        F.coalesce(F.col(f"{s.alias}__n"), F.lit(0))
                        + F.col(f"_dnn_{s.alias}")
                    ).alias(f"{s.alias}__n")
                )
            else:
                ext = F.greatest if s.kind == "max" else F.least
                cand = ext(F.col(s.alias), F.col(f"_g_{s.alias}"))
                if n_can:
                    dirty = _lost(s, F.col(s.alias))
                    cand = F.when(dirty, F.lit(None)).otherwise(cand)
                    dirty_flags.append(dirty.alias(f"_dirty_{s.alias}"))
                out_cols.append(cand.alias(s.alias))
        rows = merged.select(*out_cols, *dirty_flags)
        keep = rows.columns[: len(out_cols)]

        n_dirty = 0
        if dirty_flags:
            # the dirty probe (count) and the merge both consume rows —
            # pin the stored-state join once
            with step(self.spark, "matview.rows_barrier"):
                rows = materialize_barrier(rows, eager=True)
            any_dirty = functools.reduce(
                operator.or_, [F.col(f"_dirty_{s.alias}") for s in ext_specs]
            )
            dirty_groups = rows.filter(any_dirty).select(*gcols)
            # rows is pinned, so this reads local blocks — but cap the
            # collect: a MASS retraction could have millions of dirty
            # groups, and the literal-predicate path only wants ≤1000;
            # limit(1001) proves which side we're on without ever
            # materializing an unbounded set on the driver
            with step(self.spark, "matview.dirty_probe"):
                dirty_vals = dirty_groups.limit(1001).collect()
                n_dirty = (
                    len(dirty_vals) if len(dirty_vals) <= 1000 else dirty_groups.count()
                )
            if n_dirty:
                # recompute extremes for dirty groups only. Small dirty
                # sets (the common case — a retraction must remove a
                # stored extreme that no post-image reaches) compile to a
                # LITERAL predicate, which pushes to the parquet scan: on
                # a base cluster_by'd on the group dimension,
                # file/row-group min-max stats skip everything else, so
                # the rescan reads ~the dirty groups' rows. Large dirty
                # sets fall back to a broadcast semi-join (runtime
                # filtering, no pushdown) — the honest full-scan cost of
                # mass retraction.
                ext_aggs = [
                    (F.min(s.col) if s.kind == "min" else F.max(s.col)).alias(
                        f"_rc_{s.alias}"
                    )
                    for s in ext_specs
                ]
                base_rows = self.base.read(snapshot=base_snap)
                if n_dirty <= 1000:
                    if len(gcols) == 1:
                        g = gcols[0]
                        vals = [r[g] for r in dirty_vals]
                        non_null = [v for v in vals if v is not None]
                        pred = F.col(g).isin(non_null) if non_null else F.lit(False)
                        if len(non_null) < len(vals):  # NULL group is dirty
                            pred = pred | F.col(g).isNull()
                        pruned = base_rows.filter(pred)
                    else:
                        pred = functools.reduce(
                            operator.or_,
                            [
                                functools.reduce(
                                    operator.and_,
                                    [
                                        F.col(g).eqNullSafe(F.lit(r[g]))
                                        for g in gcols
                                    ],
                                )
                                for r in dirty_vals
                            ],
                        )
                        pruned = base_rows.filter(pred)
                else:
                    pruned = _null_safe_join(
                        base_rows, F.broadcast(dirty_groups), gcols, "left_semi"
                    )
                recomp = pruned.groupBy(*gcols).agg(*ext_aggs)
                rows = _null_safe_join(rows, recomp, gcols, "left")
                ext_aliases = {s.alias for s in ext_specs}
                rows = rows.select(
                    *[
                        F.when(F.col(f"_dirty_{c}"), F.col(f"_rc_{c}"))
                        .otherwise(F.col(c))
                        .alias(c)
                        if c in ext_aliases
                        else F.col(c)
                        for c in keep
                    ]
                )
            else:
                rows = rows.select(*keep)

        rows = rows.withColumn(
            "op", F.when(F.col(self._N) <= 0, "delete").otherwise("upsert")
        )
        refresh_summary = {**self._summary(frm, to), "mv_dirty_rescans": n_dirty}
        with step(self.spark, "matview.merge"):
            if self.write_mode == "mor":
                # delta-append refresh: the view keeps its own changelog
                # so cascaded consumers (replicas, views-over-views) can
                # follow
                _, metrics = self.table.merge_mor(
                    rows, summary=refresh_summary, snapshot=vsnap
                )
            else:
                # the groups the merge touches are exactly the delta's
                # groups, whose buckets the stored-state read already
                # collected
                _, metrics = self.table.merge(
                    rows, summary=refresh_summary, touched_buckets=tb, snapshot=vsnap
                )
        return {
            "from": frm,
            "to": to,
            "noop": False,
            "dirty_candidates": n_can,
            "dirty_rescans": n_dirty,
            **metrics,
        }

    def _refresh_full(self, base_snap) -> dict:
        """Full rebuild: recompute every group, delete groups that died."""
        to = base_snap.snapshot_id
        fresh = self._full_storage(base_snap)
        vsnap = self.table.current_snapshot()
        stored_keys = self.table.read(snapshot=vsnap).select(*self.group_cols)
        dead = _null_safe_join(stored_keys, fresh, self.group_cols, "left_anti")
        vcols = [c for c in fresh.columns if c not in self.group_cols]
        dead_rows = dead.select(
            *self.group_cols,
            *[F.lit(None).alias(c) for c in vcols],
        ).withColumn("op", F.lit("delete"))
        # _mv_n is non-null in the schema; deletes only need the key but
        # merge aligns to the table schema — null-fill is fine for deletes
        up = fresh.withColumn("op", F.lit("upsert"))
        fn = self.table.merge_mor if self.write_mode == "mor" else self.table.merge
        _, metrics = fn(
            up.unionByName(dead_rows, allowMissingColumns=True),
            summary=self._summary("full", to),
            snapshot=vsnap,
        )
        return {"from": None, "to": to, "noop": False, "full": True, **metrics}
