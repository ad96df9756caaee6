"""Multi-writer optimistic concurrency: CAS-guarded commits, conflict
retry, hint monotonicity, and orphaned-attempt GC.

Reference analog: the reference runs many ingest workers against one
Postgres catalog and leans on the database's transactional MERGE for
write isolation (DatabaseOptimizationConfig.java HikariCP pools,
db_performance_test.py concurrent personas). A lake table has no
database underneath, so the engine supplies the Iceberg-style
optimistic-concurrency protocol itself: every commit is a
compare-and-swap on the version hint (parent must still be the head),
losers raise CommitConflictError and re-run against the new head via
LakeTable.commit_with_retries, and each attempt writes its data files
under an attempt-unique directory so racing attempts can never clobber
each other's parquet output.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import ThreadPoolExecutor

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
    return LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=4)


def test_publish_cas_rejects_stale_parent(spark, table):
    """A snapshot whose parent is no longer the head must not commit."""
    cur = table.current_snapshot()
    a = cur.child(summary={"operation": "noop-a"})
    b = cur.child(summary={"operation": "noop-b"})  # same parent as a
    table._publish(a, expected_head=cur.snapshot_id)
    with pytest.raises(CommitConflictError):
        table._publish(b, expected_head=cur.snapshot_id)
    head = table.current_snapshot()
    assert head.snapshot_id == a.snapshot_id
    assert head.summary["operation"] == "noop-a"


def test_merge_raises_conflict_when_head_moves(spark, table):
    """A merge computed against a stale head surfaces CommitConflictError
    (not silent last-writer-wins on the hint) when it tries to commit."""
    table.merge(_updates(spark, [("r1", "a", 1, "insert")]))
    stale = table.current_snapshot()
    # someone else commits while our merge is "in flight"
    interloper = stale.child(summary={"operation": "noop"})
    table._publish(interloper, expected_head=stale.snapshot_id)
    bad = stale.child(summary={"operation": "merge"})
    with pytest.raises(CommitConflictError):
        table._publish(bad, expected_head=stale.snapshot_id)


def test_commit_with_retries_reruns_op_against_new_head(spark, table):
    table.merge(_updates(spark, [("r1", "a", 1, "insert")]))
    calls = {"n": 0}

    def op():
        calls["n"] += 1
        if calls["n"] == 1:
            # simulate a racing writer landing between plan and publish
            stale = table.current_snapshot()
            table._publish(
                stale.child(summary={"operation": "noop"}),
                expected_head=stale.snapshot_id,
            )
            table._publish(  # raises: head moved under us
                stale.child(summary={"operation": "merge"}),
                expected_head=stale.snapshot_id,
            )
        return table.merge_mor(_updates(spark, [("r1", "a", 2, "update")]))

    snap, _ = table.commit_with_retries(op)
    assert calls["n"] == 2
    got = {(r["repo"], r["path"]): r["v"] for r in table.read().collect()}
    assert got == {("r1", "a"): 2}


def test_commit_with_retries_exhausts(spark, table):
    def always_conflicts():
        stale = table.current_snapshot()
        table._publish(
            stale.child(summary={"operation": "noop"}),
            expected_head=stale.snapshot_id,
        )
        table._publish(
            stale.child(summary={"operation": "loser"}),
            expected_head=stale.snapshot_id,
        )

    with pytest.raises(CommitConflictError):
        table.commit_with_retries(always_conflicts, attempts=3, base_backoff_s=0.001)


def test_concurrent_mor_writers_disjoint_keys(spark, table):
    """Two writers race merge_mor on disjoint key sets; both must commit
    (one transparently retries) and the final state is their union."""
    table.merge(_updates(spark, [("seed", "s", 0, "insert")]))
    barrier = threading.Barrier(2)

    def writer(tag: str, rows):
        df = _updates(spark, rows)
        barrier.wait()
        return table.commit_with_retries(
            lambda: table.merge_mor(df, summary={"batch_id": tag})
        )

    rows_a = [("ra", f"p{i}", 100 + i, "insert") for i in range(8)]
    rows_b = [("rb", f"p{i}", 200 + i, "insert") for i in range(8)]
    with ThreadPoolExecutor(2) as ex:
        fa = ex.submit(writer, "wa", rows_a)
        fb = ex.submit(writer, "wb", rows_b)
        fa.result(), fb.result()

    batch_ids = {s.summary.get("batch_id") for s in table.snapshot_chain()}
    assert {"wa", "wb"} <= batch_ids
    got = {(r["repo"], r["path"]): r["v"] for r in table.read().collect()}
    expect = {("seed", "s"): 0}
    expect.update({("ra", f"p{i}"): 100 + i for i in range(8)})
    expect.update({("rb", f"p{i}"): 200 + i for i in range(8)})
    assert got == expect


def test_concurrent_writers_same_key_serialize(spark, table):
    """Overlapping writers serialize: the final value belongs to the
    writer whose commit landed later in the chain, exactly as a replayed
    sequential history would produce."""
    table.merge(_updates(spark, [("r1", "a", 0, "insert")]))
    barrier = threading.Barrier(2)

    def writer(tag: str, v: int):
        df = _updates(spark, [("r1", "a", v, "update")])
        barrier.wait()
        snap, _ = table.commit_with_retries(
            lambda: table.merge_mor(df, summary={"batch_id": tag})
        )
        return tag, snap.snapshot_id

    with ThreadPoolExecutor(2) as ex:
        res = dict(ex.map(lambda args: writer(*args), [("wa", 111), ("wb", 222)]))

    rows = table.read().collect()
    assert len(rows) == 1
    winner = max(res, key=res.get)  # later snapshot id wins LWW by _seq
    assert rows[0]["v"] == {"wa": 111, "wb": 222}[winner]


def test_commit_storm_chain_complete(spark, table):
    """4 threads x 3 commits each: every commit lands exactly once, the
    chain is a single line (no forks, no gaps), the hint never regresses
    below a committed id, and lineage has one entry set per commit."""
    table.merge(_updates(spark, [("seed", "s", 0, "insert")]))
    base_len = len(table.snapshot_chain())
    n_threads, n_commits = 4, 3
    errs: list[Exception] = []

    def worker(t: int):
        try:
            for c in range(n_commits):
                df = _updates(spark, [(f"t{t}", f"c{c}", t * 10 + c, "insert")])
                table.commit_with_retries(
                    lambda d=df, tag=f"t{t}-c{c}": table.merge_mor(
                        d, summary={"batch_id": tag}
                    ),
                    attempts=40,
                )
        except Exception as e:  # surfaced below
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs

    chain = table.snapshot_chain()
    assert len(chain) == base_len + n_threads * n_commits
    ids = [s.snapshot_id for s in chain]
    assert ids == list(range(ids[0], ids[0] - len(ids), -1))  # contiguous line
    tags = {s.summary.get("batch_id") for s in chain if s.summary.get("batch_id")}
    assert tags == {f"t{t}-c{c}" for t in range(n_threads) for c in range(n_commits)}
    assert table.read().count() == 1 + n_threads * n_commits


def test_attempt_dirs_are_unique_and_losers_gc(spark, table):
    """A conflicted attempt leaves orphan data files in its own attempt
    directory (never the winner's); expire_snapshots removes them, and a
    grace window protects still-in-flight attempts."""
    table.merge(_updates(spark, [("r1", "a", 1, "insert")]))
    stale = table.current_snapshot()
    # winner lands first
    table.merge_mor(_updates(spark, [("r1", "a", 2, "update")]), summary={"batch_id": "win"})
    # loser: write deltas against the stale head, then fail the publish
    w = table.mor_write(
        _updates(spark, [("r1", "a", 99, "update")]),
        commit_id=stale.snapshot_id + 1,
        snapshot=stale,
    )
    with pytest.raises((CommitConflictError, RuntimeError)):
        table.mor_finalize(w, expect_parent=stale.snapshot_id)

    loser_dir = os.path.join(table.root, w["rel_dir"])
    winner_files = {
        p for s in [table.current_snapshot()] for ps in s.delta_files.values() for p in ps
    }
    assert not any(p.startswith(w["rel_dir"]) for p in winner_files)
    loser_files = [
        os.path.join(dp, f)
        for dp, _, fns in os.walk(loser_dir)
        for f in fns
        if f.endswith(".parquet")
    ]
    assert loser_files  # the orphans exist before GC
    # a fresh orphan inside the grace window survives
    assert table.expire_snapshots(keep_last=100, orphan_grace_s=3600) == 0
    assert all(os.path.exists(p) for p in loser_files)
    # outside the grace window it is collected
    removed = table.expire_snapshots(keep_last=100, orphan_grace_s=0)
    assert removed >= len(loser_files)
    assert not any(os.path.exists(p) for p in loser_files)
    # the committed state is untouched
    got = {(r["repo"], r["path"]): r["v"] for r in table.read().collect()}
    assert got == {("r1", "a"): 2}


def test_create_race_is_exclusive(spark, tmp_path):
    """Two racing create() calls on one root: exactly one wins."""
    root = str(tmp_path / "race")
    results: list[str] = []

    def creator():
        try:
            LakeTable.create(spark, root, SCHEMA, ["repo", "path"], n_buckets=2)
            results.append("ok")
        except (FileExistsError, CommitConflictError):
            results.append("lost")

    threads = [threading.Thread(target=creator) for _ in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert results.count("ok") == 1 and results.count("lost") == 3
    t = LakeTable.load(spark, root)
    assert t.current_snapshot().snapshot_id == 1


@pytest.mark.parametrize(
    "case",
    [
        "delete_where-mor",
        "delete_where-cow",
        "update_where",
        "merge_builder-cow",
        "merge_builder-mor",
        "refresh",
        "replica_sync",
    ],
)
def test_read_then_commit_ops_conflict_on_interloper(spark, table, tmp_path, case):
    """delete_where, update_where, a merge builder, a view refresh and a
    replica sync plan their rows on the snapshot they read, so a commit
    that lands before their merge commits must raise CommitConflictError —
    never be overwritten (a lost update), missed (a concurrent insert that
    matches the delete predicate) or doubled (one refresh or sync range
    committed twice). The interloper's commit stays the head."""
    from pyspark.sql import functions as F

    from astro_data_pipeline_spark.lakehouse import Replicator
    from astro_data_pipeline_spark.lakehouse.matview import AggSpec, IncrementalAggView

    table.merge(_updates(spark, [("r1", "a", 1, "insert"), ("r2", "b", 2, "insert")]))
    target = table
    mode = (
        "mor" if case.endswith("mor") or case in ("update_where", "replica_sync") else "cow"
    )
    other = LakeTable.load(spark, table.root)

    def interlope():
        other.merge_mor(_updates(spark, [("r1", "a", 50, "update"), ("r9", "z", 1, "insert")]))

    if case == "refresh":
        view = IncrementalAggView.create(
            spark, str(tmp_path / "mv"), table, ["repo"], [AggSpec("count", None, "n")]
        )
        table.merge_mor(_updates(spark, [("r3", "c", 3, "insert")]))
        target = view.table

        def interlope():
            IncrementalAggView.load(spark, view.root, base=table).refresh()

        run = view.refresh
    elif case == "replica_sync":
        replicator = Replicator.create_replica(table, str(tmp_path / "rep"))
        table.merge_mor(_updates(spark, [("r3", "c", 3, "insert")]))
        target = replicator.replica

        def interlope():
            Replicator(table, LakeTable.load(spark, target.root)).sync()

        run = replicator.sync
    elif case.startswith("delete_where"):
        def run():
            table.delete_where(F.col("v") == 1, mode=mode)
    elif case == "update_where":
        def run():
            table.update_where({"v": F.col("v") + 1}, F.col("v") == 1)
    else:
        src = spark.createDataFrame([("r1", "a")], "repo string, path string")

        def run():
            table.merge_builder(src).when_matched_update(
                set={"v": F.col("t.v") + 1}
            ).execute(mode)

    name = "merge_mor" if mode == "mor" else "merge"
    real = getattr(target, name)
    landed = []

    def interloped(*args, **kwargs):
        interlope()
        landed.append(LakeTable.load(spark, target.root).current_snapshot().snapshot_id)
        return real(*args, **kwargs)

    setattr(target, name, interloped)
    with pytest.raises(CommitConflictError):
        run()
    assert landed and target.current_snapshot().snapshot_id == landed[0]
