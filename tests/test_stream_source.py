"""LakeTable changelog as a readStream source (Spark 4 Python DataSource
API): full-history tail, exactly-once restart over the checkpoint,
state reconstruction by LWW collapse, loud CoW failure."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from astro_data_pipeline_spark.lakehouse import LakeTable
from astro_data_pipeline_spark.streaming.source import register_changelog_source

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
    ]
)


def _up(spark, rows):
    return spark.createDataFrame(rows, schema="k string, v long, op string")


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=2)
    t.merge_mor(_up(spark, [("a", 1, "insert"), ("b", 2, "insert")]))
    t.merge_mor(_up(spark, [("a", 10, "update"), ("c", 3, "insert")]))
    t.merge_mor(_up(spark, [("b", None, "delete")]))
    return t


def _drain(spark, table, out_dir, ckpt, start=None):
    fmt = register_changelog_source(spark)
    reader = spark.readStream.format(fmt).option("root", table.root)
    if start is not None:
        reader = reader.option("start_snapshot", str(start))
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def test_full_history_tail_and_state_reconstruction(spark, tmp_path, table):
    got = _drain(
        spark, table, str(tmp_path / "out"), str(tmp_path / "ck"), start=0
    )
    rows = {(r["k"], r["_change_commit"]): r for r in got.collect()}
    # every mor commit's rows, in commit-stamped form
    assert rows[("a", 2)]["v"] == 1 and rows[("a", 3)]["v"] == 10
    assert rows[("b", 4)]["_is_delete"] is True
    # the changelog is sufficient to reconstruct table state: LWW by
    # (key, max commit), drop tombstone winners
    w = F.max_by(F.struct("v", "_is_delete"), F.col("_change_commit"))
    state = (
        got.groupBy("k")
        .agg(w.alias("w"))
        .filter(~F.col("w._is_delete"))
        .select("k", F.col("w.v").alias("v"))
    )
    expect = table.read().select("k", "v")
    assert state.exceptAll(expect).count() == 0
    assert expect.exceptAll(state).count() == 0


def test_restart_resumes_from_checkpoint(spark, tmp_path, table):
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    first = _drain(spark, table, out, ck, start=0).count()
    assert first == 5  # 2 + 2 + 1 delta rows
    # no new commits: restart delivers nothing new
    assert _drain(spark, table, out, ck).count() == first
    # new commits: restart delivers exactly the new rows
    table.merge_mor(_up(spark, [("d", 4, "insert"), ("a", 11, "update")]))
    got = _drain(spark, table, out, ck)
    assert got.count() == first + 2
    assert {r["k"] for r in got.filter(F.col("_change_commit") == 5).collect()} == {
        "a",
        "d",
    }


def test_tail_from_now_sees_only_new_commits(spark, tmp_path, table):
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    # default start: the head at first drain -> nothing historical
    q0 = _drain(spark, table, out, ck)
    assert q0.count() == 0
    table.merge_mor(_up(spark, [("z", 9, "insert")]))
    got = _drain(spark, table, out, ck)
    assert [r["k"] for r in got.collect()] == ["z"]


def test_cow_merge_fails_the_stream_loudly(spark, tmp_path, table):
    table.merge(_up(spark, [("x", 7, "insert")]))  # CoW: no changelog
    with pytest.raises(Exception, match="row-level changelog"):
        _drain(spark, table, str(tmp_path / "out"), str(tmp_path / "ck"), start=0)


def test_maintenance_commits_are_transparent(spark, tmp_path, table):
    table.compact()
    got = _drain(
        spark, table, str(tmp_path / "out"), str(tmp_path / "ck"), start=0
    )
    # compact folds rows the stream already delivers from the deltas on
    # disk; no duplicate emission for the compact commit itself
    assert got.filter(F.col("_change_commit") == 5).count() == 0
    assert got.count() == 5


def test_branch_commits_do_not_leak_into_the_stream(spark, tmp_path, table):
    """Snapshot ids are global across refs: an audit-failed WAP branch's
    commits live in the same metadata dir but are NOT on main's chain —
    the stream must walk parents, not iterate ids."""
    staging = table.create_branch("staging")
    staging.merge_mor(_up(spark, [("EVIL", 666, "insert")]))
    table.drop_branch("staging")
    got = _drain(
        spark, table, str(tmp_path / "out"), str(tmp_path / "ck"), start=0
    )
    assert got.filter(F.col("k") == "EVIL").count() == 0
    assert got.count() == 5  # exactly main's history


def test_restore_semantics_depend_on_consumer_offset(spark, tmp_path, table):
    """A restore rewinds rows no changelog can retract — but only for
    consumers that already consumed past the restore target. A consumer
    caught up through the full history must fail loudly; a consumer at
    or before the target never saw the undone commits and streams on."""
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _drain(spark, table, out, ck, start=0)  # consumed through commit 4
    anchor = table.snapshot_chain()[-1].snapshot_id  # the create root
    table.restore(anchor)
    with pytest.raises(Exception, match="re-seed"):
        _drain(spark, table, out, ck)
    # a FRESH consumer from before the target is unaffected: the undone
    # commits are off the re-parented chain, so it sees the (empty)
    # restored state plus anything committed after
    table.merge_mor(_up(spark, [("n", 1, "insert")]))
    got = _drain(spark, table, str(tmp_path / "out2"), str(tmp_path / "ck2"), start=0)
    assert [r["k"] for r in got.collect()] == ["n"]


def test_expired_offset_fails_loudly_not_silently(spark, tmp_path, table):
    """Resuming from an offset whose history was expired is data loss —
    it must raise (Delta/Iceberg refuse unretained start versions), not
    skip the missing commits."""
    table.compact()
    table.expire_snapshots(keep_last=1)
    with pytest.raises(Exception, match="expired|retained"):
        _drain(spark, table, str(tmp_path / "out"), str(tmp_path / "ck"), start=0)
    # changes() shares the stream's range walk, so an expired ``from``
    # gets the same wording, not "not an ancestor"
    with pytest.raises(ValueError, match="expired|retained"):
        table.changes(2)


def test_executor_side_reader_rows_and_restart(spark, tmp_path, table):
    """Each micro-batch fans out one InputPartition per delta file, read
    executor-side: exactly the fixture's three commits' delta rows, and
    on restart exactly the new commit's."""
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    got = _drain(spark, table, out, ck, start=0)
    cols = ["k", "v", "_change_commit", "_is_delete"]
    rows = sorted((tuple(r) for r in got.select(*cols).collect()), key=lambda t: (t[2], t[0]))
    assert rows == [
        ("a", 1, 2, False),
        ("b", 2, 2, False),
        ("a", 10, 3, False),
        ("c", 3, 3, False),
        ("b", None, 4, True),
    ]
    assert got.count() == 5
    # restart: only new commits, executor-side
    table.merge_mor(_up(spark, [("p", 1, "insert")]))
    got2 = _drain(spark, table, out, ck)
    assert got2.count() == 6
    assert got2.filter(F.col("k") == "p").count() == 1


def test_branch_start_snapshot_refused_as_non_ancestor(spark, tmp_path, table):
    """A start_snapshot that is a BRANCH commit id (or any non-ancestor
    id between two main-chain ids) must raise, not silently resolve to
    the nearest main-chain ancestor below it — that would re-deliver
    commits the caller believes it already consumed."""
    table.create_branch("side")
    # branch commit: write through the branch ref so its id lands
    # between main-chain ids
    b = table.branch("side")
    bsnap, _ = b.merge_mor(_up(spark, [("z", 99, "insert")]))
    # advance main past the branch commit id
    table.merge_mor(_up(spark, [("a", 20, "update")]))
    from astro_data_pipeline_spark.lakehouse.table import commits_between

    head = table.current_snapshot().snapshot_id
    with pytest.raises(ValueError, match="not an ancestor"):
        commits_between(os.path.join(table.root, "metadata"), bsnap.snapshot_id, head)


def test_reversed_offset_range_raises_value_error_not_index_error(spark, table):
    """s0 strictly ahead of s1: the ancestor walk never runs, so
    the non-ancestor branch must not index into the empty chain — the
    round-4 advisory's IndexError path. The caller still gets the
    actionable not-an-ancestor message naming both offsets."""
    from astro_data_pipeline_spark.lakehouse.table import commits_between

    head = table.current_snapshot().snapshot_id
    with pytest.raises(ValueError, match="not an ancestor"):
        commits_between(os.path.join(table.root, "metadata"), head + 10, head)
