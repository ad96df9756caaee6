"""Incremental aggregate materialized views: pre-image change feed,
retractable count/sum/avg maintenance, dirty-extreme min/max rescan,
group death/resurrection/migration, ledger-idempotent refresh.

The invariant under test everywhere: after any sequence of MoR merges on
the base, ``view.refresh()`` leaves the view value-identical to a full
recompute from the base head (``view.full_compute()``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from astro_data_pipeline_spark.lakehouse import LakeTable
from astro_data_pipeline_spark.lakehouse.matview import AggSpec, IncrementalAggView

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("grp", T.StringType(), True),
        T.StructField("v", T.LongType(), True),
        T.StructField("w", T.DoubleType(), True),
    ]
)

UP_SCHEMA = "repo string, path string, grp string, v long, w double, op string"


def _up(spark, rows):
    return spark.createDataFrame(rows, schema=UP_SCHEMA)


@pytest.fixture()
def base(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "base"), SCHEMA, ["repo", "path"], n_buckets=4
    )
    t.merge(
        _up(
            spark,
            [
                ("r1", "a", "g1", 10, 1.0, "insert"),
                ("r1", "b", "g1", 20, None, "insert"),
                ("r2", "a", "g2", 5, 2.5, "insert"),
                ("r2", "b", "g2", 7, 0.5, "insert"),
                ("r3", "a", "g3", 100, None, "insert"),
            ],
        )
    )
    return t


SPECS = [
    AggSpec("count", None, "n_rows"),
    AggSpec("sum", "v", "sum_v"),
    AggSpec("avg", "w", "avg_w"),
    AggSpec("max", "v", "max_v"),
    AggSpec("min", "v", "min_v"),
]


def _view(spark, tmp_path, base):
    return IncrementalAggView.create(
        spark, str(tmp_path / "mv"), base, ["grp"], SPECS, n_buckets=4
    )


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        (tuple(r[c] for c in cols) for r in df.select(*cols).collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def _assert_consistent(view):
    assert _rows(view.read()) == _rows(view.full_compute())


def test_changes_preimage_values(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "pi"), SCHEMA, ["repo", "path"], n_buckets=4
    )
    t.merge(
        _up(spark, [("r1", "a", "g1", 1, 1.0, "insert"), ("r1", "b", "g1", 2, None, "insert")])
    )
    s1 = t.current_snapshot().snapshot_id
    t.merge_mor(
        _up(
            spark,
            [
                ("r1", "a", "g9", 11, 3.0, "update"),
                ("r1", "b", None, None, None, "delete"),
                ("r2", "z", "g2", 5, 5.0, "insert"),
            ],
        )
    )
    ch = {
        (r["repo"], r["path"]): r
        for r in t.changes(s1, with_preimage=True).collect()
    }
    upd = ch[("r1", "a")]
    assert upd["change_type"] == "update"
    assert (upd["grp"], upd["v"], upd["w"]) == ("g9", 11, 3.0)
    assert (upd["_pre_grp"], upd["_pre_v"], upd["_pre_w"]) == ("g1", 1, 1.0)
    dele = ch[("r1", "b")]
    assert dele["change_type"] == "delete"
    assert (dele["_pre_grp"], dele["_pre_v"]) == ("g1", 2)
    ins = ch[("r2", "z")]
    assert ins["change_type"] == "insert"
    assert ins["_pre_grp"] is None and ins["_pre_v"] is None


def test_matview_initial_build_matches_full(spark, tmp_path, base):
    view = _view(spark, tmp_path, base)
    _assert_consistent(view)
    got = {r["grp"]: r for r in view.read().collect()}
    assert got["g1"]["n_rows"] == 2
    assert got["g1"]["sum_v"] == 30
    assert got["g1"]["avg_w"] == 1.0  # one null w ignored
    assert got["g3"]["avg_w"] is None  # all-null group → NULL, not 0


def test_matview_incremental_cycles_match_full(spark, tmp_path, base):
    view = _view(spark, tmp_path, base)
    # cycle 1: plain inserts + an update that changes v
    base.merge_mor(
        _up(
            spark,
            [
                ("r1", "c", "g1", 5, 2.0, "insert"),
                ("r2", "a", "g2", 6, 2.5, "update"),
            ],
        )
    )
    stats = view.refresh()
    assert stats["noop"] is False
    _assert_consistent(view)
    # cycle 2: delete the g1 max row (dirty-extreme rescan) and the g2 min
    base.merge_mor(
        _up(
            spark,
            [
                ("r1", "b", None, None, None, "delete"),  # v=20 was g1's max
                ("r2", "b", None, None, None, "delete"),  # v=7 after update: min is 6
            ],
        )
    )
    stats = view.refresh()
    assert stats["dirty_rescans"] >= 1
    _assert_consistent(view)
    got = {r["grp"]: r for r in view.read().collect()}
    assert got["g1"]["max_v"] == 10
    # cycle 3: group migration — r1/a moves g1 → g3
    base.merge_mor(_up(spark, [("r1", "a", "g3", 10, 1.0, "update")]))
    view.refresh()
    _assert_consistent(view)
    got = {r["grp"]: r for r in view.read().collect()}
    assert got["g3"]["n_rows"] == 2 and got["g3"]["sum_v"] == 110


def test_matview_group_death_and_resurrection(spark, tmp_path, base):
    view = _view(spark, tmp_path, base)
    base.merge_mor(_up(spark, [("r3", "a", None, None, None, "delete")]))
    view.refresh()
    _assert_consistent(view)
    assert "g3" not in {r["grp"] for r in view.read().collect()}
    base.merge_mor(_up(spark, [("r9", "x", "g3", 42, 4.0, "insert")]))
    view.refresh()
    _assert_consistent(view)
    got = {r["grp"]: r for r in view.read().collect()}
    assert got["g3"]["n_rows"] == 1 and got["g3"]["sum_v"] == 42


def test_matview_null_sum_retraction(spark, tmp_path, base):
    view = _view(spark, tmp_path, base)
    # g3's only row has null w; give it a real w then take it away again —
    # avg must go NULL → value → NULL, not 0/stale
    base.merge_mor(_up(spark, [("r3", "a", "g3", 100, 9.0, "update")]))
    view.refresh()
    got = {r["grp"]: r for r in view.read().collect()}
    assert got["g3"]["avg_w"] == 9.0
    base.merge_mor(_up(spark, [("r3", "a", "g3", 100, None, "update")]))
    view.refresh()
    _assert_consistent(view)
    got = {r["grp"]: r for r in view.read().collect()}
    assert got["g3"]["avg_w"] is None


def test_matview_refresh_noop_and_ledger(spark, tmp_path, base):
    view = _view(spark, tmp_path, base)
    base.merge_mor(_up(spark, [("r5", "n", "g1", 1, 1.0, "insert")]))
    s1 = view.refresh()
    assert s1["noop"] is False
    chain_len = len(view.table.snapshot_chain())
    s2 = view.refresh()
    assert s2["noop"] is True
    assert len(view.table.snapshot_chain()) == chain_len  # no empty commit
    assert f"mv:{s1['from']}->{s1['to']}" in view.table.committed_batch_ids(
        run_scope="mv-refresh"
    )


def test_matview_load_and_full_rebuild(spark, tmp_path, base):
    view = _view(spark, tmp_path, base)
    base.merge_mor(_up(spark, [("r3", "a", None, None, None, "delete")]))
    reloaded = IncrementalAggView.load(spark, str(tmp_path / "mv"))
    stats = reloaded.refresh(full=True)
    assert stats["full"] is True
    _assert_consistent(reloaded)
    assert "g3" not in {r["grp"] for r in reloaded.read().collect()}


def test_matview_incremental_equals_rebuilt_reference(spark, tmp_path, base):
    """Many mixed cycles; final incremental state must match a FRESH view
    built from scratch at the end (catches drift that full_compute-only
    comparisons would share with the view under test)."""
    view = _view(spark, tmp_path, base)
    cycles = [
        [("r1", "a", "g2", 11, 2.0, "update"), ("r4", "q", "g4", -3, 0.0, "insert")],
        [("r1", "b", None, None, None, "delete"), ("r4", "r", "g4", 8, None, "insert")],
        [("r4", "q", "g4", -3, 1.5, "update"), ("r2", "a", None, None, None, "delete")],
        [("r4", "q", None, None, None, "delete"), ("r5", "s", "g1", 0, 0.0, "insert")],
    ]
    for rows in cycles:
        base.merge_mor(_up(spark, rows))
        view.refresh()
        _assert_consistent(view)
    fresh = IncrementalAggView.create(
        spark, str(view.root) + "-fresh", base, ["grp"], SPECS, n_buckets=4
    )
    assert _rows(view.read()) == _rows(fresh.read())


def test_null_group_keeps_stored_state(spark, tmp_path):
    """A NULL group value is a legitimate group (SQL GROUP BY semantics):
    the maintenance joins must MATCH it against stored state — a
    null-unsafe join would treat every NULL-group delta as a brand-new
    group and silently reset its aggregates."""
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("grp", T.StringType(), True),
            T.StructField("v", T.LongType(), True),
        ]
    )
    base = LakeTable.create(spark, str(tmp_path / "nb"), schema, ["k"], n_buckets=2)
    base.merge(
        spark.createDataFrame(
            [("a", None, 1, "insert"), ("b", None, 2, "insert"), ("c", "g", 3, "insert")],
            schema="k string, grp string, v long, op string",
        )
    )
    view = IncrementalAggView.create(
        spark,
        str(tmp_path / "nmv"),
        base,
        ["grp"],
        [AggSpec("count", None, "n"), AggSpec("sum", "v", "sv"), AggSpec("max", "v", "mx")],
        n_buckets=2,
    )
    # NULL group accumulates, not resets
    base.merge_mor(
        spark.createDataFrame(
            [("d", None, 10, "insert")], schema="k string, grp string, v long, op string"
        )
    )
    view.refresh()
    _assert_consistent(view)
    got = {r["grp"]: r for r in view.read().collect()}
    assert got[None]["n"] == 3 and got[None]["sv"] == 13
    # delete the NULL group's max (dirty rescan must match the NULL group too)
    base.merge_mor(
        spark.createDataFrame(
            [("d", None, None, "delete")], schema="k string, grp string, v long, op string"
        )
    )
    view.refresh()
    _assert_consistent(view)
    got = {r["grp"]: r for r in view.read().collect()}
    assert got[None]["n"] == 2 and got[None]["mx"] == 2
    # full rebuild's dead-group anti-join must also be null-safe
    reloaded = IncrementalAggView.load(spark, str(tmp_path / "nmv"))
    reloaded.refresh(full=True)
    _assert_consistent(reloaded)


def test_multi_column_group_with_dirty_rescan(spark, tmp_path, base):
    """Two group columns (repo is a base key col, grp a value col): the
    contribution union, stored join, and the multi-column literal
    dirty-rescan predicate must all compose."""
    view = IncrementalAggView.create(
        spark,
        str(tmp_path / "mv2"),
        base,
        ["repo", "grp"],
        [AggSpec("count", None, "n"), AggSpec("max", "v", "mx")],
        n_buckets=4,
    )
    base.merge_mor(_up(spark, [("r1", "c", "g1", 7, 1.0, "insert")]))
    view.refresh()
    _assert_consistent(view)
    # delete (r1,g1)'s max row -> dirty rescan on a two-column group
    base.merge_mor(_up(spark, [("r1", "b", None, None, None, "delete")]))
    stats = view.refresh()
    assert stats["dirty_rescans"] >= 1
    _assert_consistent(view)
    got = {(r["repo"], r["grp"]): r["mx"] for r in view.read().collect()}
    assert got[("r1", "g1")] == 10


def test_cascaded_consumers_over_mor_view(spark, tmp_path, base):
    """A view refreshed in MoR mode keeps its own changelog, so further
    incremental consumers can stack on it: base -> matview(mor) ->
    replica-of-the-view, each hop syncing through its own ledger."""
    from astro_data_pipeline_spark.lakehouse import Replicator

    view = IncrementalAggView.create(
        spark,
        str(tmp_path / "mvm"),
        base,
        ["grp"],
        [AggSpec("count", None, "n_rows"), AggSpec("sum", "v", "sum_v")],
        n_buckets=4,
        write_mode="mor",
    )
    rep = Replicator.create_replica(view.table, str(tmp_path / "vrep"))
    # two cycles incl. a group death
    base.merge_mor(_up(spark, [("r7", "x", "g7", 70, 1.0, "insert")]))
    view.refresh()
    rep.sync()
    base.merge_mor(_up(spark, [("r3", "a", None, None, None, "delete")]))
    view.refresh()
    rep.sync()
    _assert_consistent(view)
    assert _rows(rep.replica.read()) == _rows(view.table.read())
    got = {r["grp"]: r for r in view.read().collect()}
    assert got["g7"]["n_rows"] == 1
    assert "g3" not in got
    # reload keeps the mode
    assert IncrementalAggView.load(spark, str(tmp_path / "mvm")).write_mode == "mor"


@pytest.mark.parametrize("kind", ["max", "min"])
def test_extreme_group_dirty_only_when_really_lost(spark, tmp_path, kind):
    """A retraction touching the stored extreme rescans the base only
    when no post-image reaches that extreme: an update past it, or an
    equal value arriving from another key, leaves the new extreme known
    from the delta alone. Every refresh's rescan count is also in its
    commit summary (``mv_dirty_rescans``). Values are negated for the
    min view, so the same steps exercise the flipped comparisons."""
    sign = 1 if kind == "max" else -1
    t = LakeTable.create(
        spark, str(tmp_path / "b"), SCHEMA, ["repo", "path"], n_buckets=4
    )

    def commit(rows, mor=True):
        rows = [
            (r, p, g, None if v is None else sign * v, None, op)
            for r, p, g, v, op in rows
        ]
        (t.merge_mor if mor else t.merge)(_up(spark, rows))

    commit(
        [
            ("r1", "a", "g1", 10, "insert"),
            ("r1", "b", "g1", 20, "insert"),
            ("r2", "a", "g2", 7, "insert"),
        ],
        mor=False,
    )
    view = IncrementalAggView.create(
        spark,
        str(tmp_path / "mv"),
        t,
        ["grp"],
        [AggSpec("count", None, "n"), AggSpec(kind, "v", "ext")],
        n_buckets=4,
    )
    steps = [
        # the extreme row itself moves past the stored extreme
        ([("r1", "b", "g1", 25, "update")], 0, 25),
        # the extreme row leaves, an equal value arrives on another key
        (
            [("r1", "b", None, None, "delete"), ("r1", "c", "g1", 25, "insert")],
            0,
            25,
        ),
        # the extreme row is lowered below the next value: really lost
        ([("r1", "c", "g1", 1, "update")], 1, 10),
        # the extreme row is deleted with no growth at all
        ([("r1", "a", None, None, "delete")], 1, 1),
    ]
    for rows, rescans, ext in steps:
        commit(rows)
        stats = view.refresh()
        if rescans:
            assert stats["dirty_rescans"] >= 1, rows
        else:
            assert stats["dirty_rescans"] == 0, rows
        _assert_consistent(view)
        got = {r["grp"]: r["ext"] for r in view.read().collect()}
        assert got["g1"] == sign * ext and got["g2"] == sign * 7
        head = view.table.history().first()["summary"]
        assert head["mv_dirty_rescans"] == str(stats["dirty_rescans"])
