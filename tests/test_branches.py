"""Branches + write-audit-publish (WAP): fork, isolated writes, audited
fast-forward publish, branch-scoped exactly-once, maintenance guards.

Reference analog: the reference stages ingest into staging tables and
promotes to the catalog only after its quality-verification DAG passes
(data_quality_monitoring.py); Iceberg expresses the same flow as branch
refs + fast-forward. Snapshots and data files are shared across refs —
a branch is one tiny ref file.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from astro_data_pipeline_spark.lakehouse import CommitConflictError, LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
    ]
)


def _updates(spark, rows):
    return spark.createDataFrame(rows, schema="repo string, path string, v long, op string")


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=4)
    t.merge(_updates(spark, [("r1", "a", 1, "insert"), ("r1", "b", 2, "insert")]))
    return t


def _state(t):
    return {(r["repo"], r["path"]): r["v"] for r in t.read().collect()}


def test_branch_writes_invisible_on_main(spark, table):
    b = table.create_branch("staging")
    b.merge_mor(_updates(spark, [("r2", "c", 3, "insert"), ("r1", "a", 10, "update")]))
    assert _state(table) == {("r1", "a"): 1, ("r1", "b"): 2}
    assert _state(b) == {("r1", "a"): 10, ("r1", "b"): 2, ("r2", "c"): 3}
    assert table.refs().keys() == {"main", "staging"}


def test_fast_forward_publishes(spark, table):
    b = table.create_branch("staging")
    b.merge_mor(_updates(spark, [("r2", "c", 3, "insert")]), summary={"batch_id": "b1"})
    snap = table.fast_forward("staging")
    assert table.current_snapshot().snapshot_id == snap.snapshot_id
    assert _state(table) == {("r1", "a"): 1, ("r1", "b"): 2, ("r2", "c"): 3}
    # publish is a ref move, not new snapshots: heads now equal
    assert table.refs()["main"] == table.refs()["staging"]


def test_fast_forward_refuses_diverged_main(spark, table):
    b = table.create_branch("staging")
    b.merge_mor(_updates(spark, [("r2", "c", 3, "insert")]))
    # main moves after the fork: the branch no longer contains its history
    table.merge_mor(_updates(spark, [("r9", "z", 9, "insert")]))
    with pytest.raises(CommitConflictError, match="not a fast-forward"):
        table.fast_forward("staging")
    # and a stale branch can never rewind main
    with pytest.raises(CommitConflictError):
        LakeTable.load(spark, table.root, ref="staging").fast_forward(
            "main", target_ref="staging"
        ) and table.fast_forward("staging")


def test_branch_scoped_exactly_once_ledger(spark, table):
    """A batch committed on the branch is, after publish, visible to
    main's ledger — a resumed main replay skips it."""
    b = table.create_branch("staging")
    b.merge_mor(
        _updates(spark, [("r2", "c", 3, "insert")]),
        summary={"batch_id": "wap-1", "run_scope": "s"},
    )
    assert "wap-1" in {x for x in b.committed_batch_ids(run_scope="s")}
    assert "wap-1" not in {x for x in table.committed_batch_ids(run_scope="s")}
    table.fast_forward("staging")
    assert "wap-1" in {x for x in table.committed_batch_ids(run_scope="s")}


def test_audit_reject_path(spark, table):
    """The audit fails: drop the branch — main never saw the bad batch,
    and re-forking the same name works."""
    before = _state(table)
    b = table.create_branch("staging")
    b.merge_mor(_updates(spark, [("r1", "a", -99, "update")]))  # fails audit
    bad = [r for r in b.read().collect() if r["v"] is not None and r["v"] < 0]
    assert bad  # audit catches it on the branch view
    table.drop_branch("staging")
    assert _state(table) == before
    b2 = table.create_branch("staging")
    assert _state(b2) == before


def test_expire_refuses_with_live_branches(spark, table):
    table.create_branch("staging")
    with pytest.raises(RuntimeError, match="live branches"):
        table.expire_snapshots(keep_last=1)
    table.drop_branch("staging")
    table.expire_snapshots(keep_last=1)  # now fine
    assert _state(table) == {("r1", "a"): 1, ("r1", "b"): 2}


def test_expire_runs_from_main_only(spark, table):
    b = table.create_branch("staging")
    with pytest.raises(RuntimeError, match="main"):
        b.expire_snapshots(keep_last=1)


def test_branch_restore_and_schema_evolution_isolated(spark, table):
    b = table.create_branch("staging")
    b.add_columns([T.StructField("lang", T.StringType(), True)])
    assert "lang" in [f.name for f in b.current_snapshot().schema.fields]
    assert "lang" not in [f.name for f in table.current_snapshot().schema.fields]
    # restore on the branch rewinds the branch only
    b.restore(table.current_snapshot().snapshot_id)
    assert "lang" not in [f.name for f in b.current_snapshot().schema.fields]


def test_create_branch_duplicate_and_reserved(spark, table):
    table.create_branch("staging")
    with pytest.raises(ValueError, match="already exists"):
        table.create_branch("staging")
    with pytest.raises(ValueError, match="reserved"):
        table.create_branch("main")
    with pytest.raises(ValueError, match="invalid ref"):
        table.create_branch("bad/name")
    # an id that was never committed is a ValueError, not a raw errno
    with pytest.raises(ValueError, match="unknown fork snapshot"):
        table.create_branch("other", from_snapshot_id=999)
    with pytest.raises(ValueError, match="unknown 'from' snapshot"):
        table.changes(999)


def test_branch_diff_previews_publish(spark, table):
    """branch_diff = the net change publish would apply: insert, update,
    and delete classified against main's state; diverged main raises."""
    table.merge_mor(_updates(spark, [("r2", "c", 3, "insert")]))
    b = table.create_branch("staging")
    b.merge_mor(
        _updates(
            spark,
            [("r3", "d", 4, "insert"), ("r1", "a", 11, "update"), ("r2", "c", 0, "delete")],
        )
    )
    diff = {
        (r["repo"], r["path"]): (r["change_type"], r["v"])
        for r in table.branch_diff("staging").collect()
    }
    assert diff == {
        ("r3", "d"): ("insert", 4),
        ("r1", "a"): ("update", 11),
        ("r2", "c"): ("delete", None),
    }
    # diverged main: the ancestor guard refuses (publish would conflict)
    table.merge_mor(_updates(spark, [("r9", "z", 9, "insert")]))
    with pytest.raises(ValueError):
        table.branch_diff("staging")
    with pytest.raises(ValueError, match="unknown branch"):
        table.branch_diff("nope")


def test_lineage_follows_this_refs_chain(spark, table):
    """lineage() is derived from this ref's retained snapshot chain:
    branch-only, restored-away and expired commits drop out, and each
    merge-on-read commit's rows name exactly the buckets it wrote."""
    def lineage_ids(t):
        return {r["snapshot_id"] for r in t.lineage().collect()}

    b = table.create_branch("staging")
    b.merge_mor(_updates(spark, [("r2", "c", 3, "insert")]), summary={"batch_id": "wap"})
    on_branch = b.current_snapshot().snapshot_id
    assert on_branch in lineage_ids(b)
    assert on_branch not in lineage_ids(table)
    table.drop_branch("staging")

    good = table.current_snapshot().snapshot_id
    for i in range(2):
        table.merge_mor(_updates(spark, [(f"u{i}", "x", i, "insert")]))
    undone = {s.snapshot_id for s in table.snapshot_chain() if s.snapshot_id > good}
    assert undone and undone <= lineage_ids(table)
    table.restore(good)
    assert not undone & lineage_ids(table)

    for i in range(3):
        table.merge_mor(
            _updates(spark, [("r1", "a", 20 + i, "update"), (f"n{i}", "y", i, "insert")]),
            summary={"batch_id": f"m{i}"},
        )
    table.expire_snapshots(keep_last=2)
    chain = table.snapshot_chain()
    lin = table.lineage().collect()
    assert {r["snapshot_id"] for r in lin} == {s.snapshot_id for s in chain}
    from astro_data_pipeline_spark.lakehouse.table import commit_files

    for s in chain:
        assert s.summary["operation"] == "merge-mor"
        rows = [r for r in lin if r["snapshot_id"] == s.snapshot_id]
        assert {r["partition_id"]: r["n_files"] for r in rows} == {
            int(bk): len(rels) for bk, rels in commit_files(s).items()
        }
        assert {(r["batch_id"], r["operation"]) for r in rows} == {
            (s.summary["batch_id"], "merge-mor")
        }
    # no side store: metadata holds only snapshots, refs and the lock
    side = [
        fn
        for fn in os.listdir(os.path.join(table.root, "metadata"))
        if not fn.startswith(("snapshot-", "version-hint", "ref-", "commit.lock"))
    ]
    assert side == []


def _cdc_events(spark, lsns, tag):
    import pandas as pd

    rows = [
        dict(lsn=i, ts=pd.Timestamp("2026-01-01"), op="insert" if i < 4 else "update",
             repo="r", path=f"p{i % 4}", commit=f"{tag}{i}", lang="py",
             content=f"{tag}-{i}")
        for i in lsns
    ]
    return pd.DataFrame(rows), spark.createDataFrame(
        pd.DataFrame(rows),
        "lsn long, ts timestamp, op string, repo string, path string, "
        "commit string, lang string, content string",
    )


@pytest.mark.parametrize("gap", ["branch_commit", "orphan_claim"])
def test_pipelined_replay_on_main_steps_over_allocator_gaps(spark, tmp_path, gap):
    """Snapshot ids are table-global, so the id after main's head may be
    taken — by a commit on a sibling branch, or by the stray snapshot
    file of a writer that crashed before publishing. A default-depth
    replay on main must still chain each commit onto the previous one."""
    import os
    import shutil

    from astro_data_pipeline_spark.cdc import apply as A
    from astro_data_pipeline_spark.cdc.oracle import replay_reference
    from astro_data_pipeline_spark.cdc.runner import CdcRunner

    table = LakeTable.create(
        spark, str(tmp_path / "cdc"), T.StructType(A.BASE_TABLE_FIELDS),
        A.KEY_COLS, n_buckets=4,
    )
    head = table.current_snapshot().snapshot_id
    if gap == "branch_commit":
        side = table.create_branch("side")
        _, side_events = _cdc_events(spark, range(1, 4), "side")
        CdcRunner(spark, side, run_id="side").replay(side_events, n_batches=1)
        assert side.current_snapshot().snapshot_id > head
    else:
        meta = os.path.join(table.root, "metadata")
        shutil.copy(
            os.path.join(meta, f"snapshot-{head}.json"),
            os.path.join(meta, f"snapshot-{head + 1}.json"),
        )
    assert table.current_snapshot().snapshot_id == head

    want_pdf, events = _cdc_events(spark, range(1, 11), "main")
    reports = CdcRunner(spark, table, run_id="main").replay(events, n_batches=2)
    assert [r.status for r in reports] == ["applied", "applied"]
    want = replay_reference(want_pdf)
    got = {(r["repo"], r["path"]): (r["commit"], r["content_sha256"])
           for r in table.read().collect()}
    assert got == {
        (r.repo, r.path): (r.commit, r.content_sha256) for r in want.itertuples()
    }
