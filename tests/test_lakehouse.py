"""LakeTable unit tests: atomic commits, MERGE semantics, copy-on-write
bucket reuse, schema evolution, time travel, snapshot expiry."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from astro_data_pipeline_spark.lakehouse import LakeTable

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


def test_create_and_read_empty(table):
    assert table.current_snapshot().snapshot_id == 1
    assert table.read().count() == 0


def test_merge_insert_update_delete(spark, table):
    snap, m = table.merge(_updates(spark, [("r1", "a", 1, "insert"), ("r1", "b", 1, "insert")]))
    assert m["totals"]["rows_inserted"] == 2
    snap, m = table.merge(
        _updates(spark, [("r1", "a", 2, "update"), ("r1", "b", 0, "delete"), ("r2", "c", 1, "insert")])
    )
    assert m["totals"] == {
        "rows_inserted": 1, "rows_updated": 1, "rows_deleted": 1, "rows_delete_noop": 0
    }
    got = {(r["repo"], r["path"]): r["v"] for r in table.read().collect()}
    assert got == {("r1", "a"): 2, ("r2", "c"): 1}
    # delete of an absent key is a no-op, not an error
    snap, m = table.merge(_updates(spark, [("zz", "zz", 0, "delete")]))
    assert m["totals"]["rows_delete_noop"] == 1
    assert table.read().count() == 2


def test_copy_on_write_carries_untouched_buckets(spark, table):
    table.merge(_updates(spark, [(f"r{i}", f"p{i}", 1, "insert") for i in range(40)]))
    before = table.current_snapshot().files
    # touch one key → only its bucket's files should change
    table.merge(_updates(spark, [("r0", "p0", 2, "update")]))
    after = table.current_snapshot().files
    changed = [b for b in after if after[b] != before.get(b)]
    assert len(changed) == 1
    untouched = [b for b in after if b not in changed]
    for b in untouched:
        assert after[b] == before[b]  # same file paths carried by reference


def test_time_travel_and_expiry(spark, table, tmp_path):
    table.merge(_updates(spark, [("r1", "a", 1, "insert")]), summary={"batch_id": "b1"})
    s2 = table.current_snapshot()
    table.merge(_updates(spark, [("r1", "a", 2, "update")]), summary={"batch_id": "b2"})
    # time travel to the earlier snapshot
    old = table.read(snapshot=s2).collect()
    assert old[0]["v"] == 1
    assert table.read().collect()[0]["v"] == 2
    assert table.committed_batch_ids() == {"b1", "b2"}
    # expiry removes unreferenced files but keeps the current state intact
    for i in range(3):
        table.merge(_updates(spark, [("r1", "a", 10 + i, "update")]))
    removed = table.expire_snapshots(keep_last=2)
    assert removed >= 1
    assert table.read().collect()[0]["v"] == 12


def test_schema_evolution_add_column(spark, table):
    table.merge(_updates(spark, [("r1", "a", 1, "insert")]))
    table.add_columns([T.StructField("meta", T.StringType(), True)])
    df = table.read()
    assert "meta" in df.columns
    assert df.collect()[0]["meta"] is None  # old file null-fills
    up = spark.createDataFrame(
        [("r1", "b", 1, "x", "insert")], schema="repo string, path string, v long, meta string, op string"
    )
    table.merge(up)
    got = {r["path"]: r["meta"] for r in table.read().collect()}
    assert got == {"a": None, "b": "x"}


def test_schema_evolution_drop_column(spark, tmp_path):
    """drop_columns is metadata-only; the name is poisoned against
    re-add (stale physical values would resurrect) until a rebucket
    rewrites every file."""
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
            T.StructField("note", T.StringType(), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "dc"), schema, ["repo", "path"], n_buckets=4)
    up = spark.createDataFrame(
        [("r1", "a", 1, "secret", "insert"), ("r1", "b", 2, "other", "insert")],
        schema="repo string, path string, v long, note string, op string",
    )
    t.merge(up)
    pre = t.current_snapshot()

    snap = t.drop_columns(["note"])
    assert snap.files == pre.files and snap.delta_files == pre.delta_files
    assert "note" not in t.read().columns
    assert {r["path"]: r["v"] for r in t.read().collect()} == {"a": 1, "b": 2}
    # time travel still sees the column (snapshots are self-describing)
    assert {r["path"]: r["note"] for r in t.read(snapshot=pre).collect()} == {
        "a": "secret", "b": "other",
    }
    # merges keep working; a batch still carrying the dropped column is fine
    t.merge_mor(
        spark.createDataFrame(
            [("r2", "c", 3, "ghost", "insert")],
            schema="repo string, path string, v long, note string, op string",
        )
    )
    assert {r["path"]: r["v"] for r in t.read().collect()} == {"a": 1, "b": 2, "c": 3}

    # re-adding the dropped name must refuse — pre-drop files still carry
    # physical 'note' values that would resurrect
    with pytest.raises(ValueError, match="resurrect"):
        t.add_columns([T.StructField("note", T.StringType(), True)])
    # rebucket rewrites every file under the current schema → name reusable
    t.rebucket(8)
    assert t.current_snapshot().dropped_cols == []
    t.add_columns([T.StructField("note", T.StringType(), True)])
    got = {r["path"]: r["note"] for r in t.read().collect()}
    assert got == {"a": None, "b": None, "c": None}  # nothing resurrected

    # guards
    with pytest.raises(ValueError, match="key column"):
        t.drop_columns(["repo"])
    with pytest.raises(ValueError, match="unknown column"):
        t.drop_columns(["nope"])
    with pytest.raises(ValueError, match="every value column"):
        t.drop_columns(["v", "note"])


def test_dropped_cols_survive_snapshot_expiry(spark, tmp_path):
    """The poisoned-name set rides the CURRENT snapshot, not the chain:
    expiring the drop commit itself must not reopen the resurrect
    hazard."""
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
            T.StructField("x", T.LongType(), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "ex"), schema, ["k"], n_buckets=2)
    t.merge(spark.createDataFrame([("a", 1, 9, "insert")], "k string, v long, x long, op string"))
    t.drop_columns(["x"])
    for i in range(6):  # push the drop commit past keep_last
        t.merge(spark.createDataFrame([(f"k{i}", i, "insert")], "k string, v long, op string"))
    t.expire_snapshots(keep_last=3)
    assert all(s.summary.get("operation") != "drop-columns" for s in t.snapshot_chain())
    with pytest.raises(ValueError, match="resurrect"):
        t.add_columns([T.StructField("x", T.LongType(), True)])


def test_snapshot_as_of_timestamp_and_history(spark, table):
    """AS OF TIMESTAMP resolves to the latest commit at-or-before the
    point; asking before the table existed or past the expired horizon
    raises instead of silently returning a different state."""
    table.merge(_updates(spark, [("r1", "a", 1, "insert")]))
    s1 = table.current_snapshot()
    table.merge(_updates(spark, [("r1", "a", 2, "update")]))
    s2 = table.current_snapshot()
    # timestamps are ms-resolution; force distinctness for the test
    assert s2.timestamp_ms >= s1.timestamp_ms
    assert table.snapshot_as_of(s1.timestamp_ms).snapshot_id == s1.snapshot_id
    assert table.snapshot_as_of(s2.timestamp_ms + 10_000).snapshot_id == s2.snapshot_id
    got = table.read(snapshot=table.snapshot_as_of(s1.timestamp_ms)).collect()
    assert [r["v"] for r in got] == [1]
    with pytest.raises(ValueError, match="history starts"):
        table.snapshot_as_of(0)

    hist = table.history().toPandas()
    assert list(hist["snapshot_id"]) == sorted(hist["snapshot_id"], reverse=True)
    assert hist.iloc[0]["operation"] == "merge"
    assert hist.iloc[-1]["operation"] == "create"
    # expiry: points older than the retained chain refuse loudly
    for i in range(5):
        table.merge(_updates(spark, [("r1", f"x{i}", i, "insert")]))
    table.expire_snapshots(keep_last=2)
    with pytest.raises(ValueError, match="expired"):
        table.snapshot_as_of(s1.timestamp_ms)


def test_commit_is_atomic_under_partial_failure(spark, table, tmp_path):
    """A snapshot json written without the hint flip is invisible."""
    table.merge(_updates(spark, [("r1", "a", 1, "insert")]))
    cur = table.current_snapshot()
    # simulate a crash: orphan snapshot file, hint untouched
    orphan = cur.to_json()
    orphan["snapshot_id"] = cur.snapshot_id + 1
    import json

    with open(os.path.join(table._meta, f"snapshot-{cur.snapshot_id + 1}.json"), "w") as f:
        json.dump(orphan, f)
    assert table.current_snapshot().snapshot_id == cur.snapshot_id
    # next merge overwrites the orphan id and commits cleanly
    table.merge(_updates(spark, [("r1", "a", 2, "update")]))
    assert table.read().collect()[0]["v"] == 2


def test_point_lookup_reads_one_bucket(spark, table):
    table.merge(_updates(spark, [("r1", f"p{i}", i, "insert") for i in range(20)]))
    snap = table.current_snapshot()
    assert len(snap.files) > 1  # data spread over several buckets

    hit = table.read_key({"repo": "r1", "path": "p7"})
    got = hit.collect()
    assert len(got) == 1 and got[0]["v"] == 7

    # coarse prune: the scan's file list is exactly one bucket's files
    from astro_data_pipeline_spark.lakehouse.table import bucket_expr

    b = (
        spark.createDataFrame([("r1", "p7")], "repo string, path string")
        .select(bucket_expr(["repo", "path"], snap.n_buckets))
        .collect()[0][0]
    )
    scanned = hit.inputFiles()
    assert scanned and all(f"_bucket={b}/" in f or f"_bucket%3D{b}/" in f for f in scanned)

    assert table.read_key({"repo": "r1", "path": "nope"}).count() == 0


# ----------------------------------------------------------- incremental read


def _changes_map(df):
    return {
        (r["repo"], r["path"]): (r["change_type"], r["v"]) for r in df.collect()
    }


def test_changes_classifies_insert_update_delete(spark, table):
    table.merge_mor(_updates(spark, [("r1", "a", 1, "insert"), ("r1", "b", 1, "insert")]))
    s1 = table.current_snapshot().snapshot_id
    table.merge_mor(_updates(spark, [("r1", "a", 2, "update"), ("r2", "c", 1, "insert")]))
    table.merge_mor(_updates(spark, [("r1", "b", 0, "delete"), ("r2", "c", 5, "update")]))
    got = _changes_map(table.changes(s1))
    assert got == {
        ("r1", "a"): ("update", 2),
        ("r1", "b"): ("delete", None),   # tombstones carry null values
        ("r2", "c"): ("insert", 5),      # insert+update nets to one insert
    }


def test_changes_nets_out_flip_flops_and_ghost_deletes(spark, table):
    table.merge_mor(_updates(spark, [("r1", "a", 1, "insert")]))
    s1 = table.current_snapshot().snapshot_id
    # delete of a key that never existed at s1 → nothing
    table.merge_mor(_updates(spark, [("zz", "zz", 0, "delete")]))
    # delete then reinsert of an existing key → one update
    table.merge_mor(_updates(spark, [("r1", "a", 0, "delete")]))
    table.merge_mor(_updates(spark, [("r1", "a", 9, "insert")]))
    got = _changes_map(table.changes(s1))
    assert got == {("r1", "a"): ("update", 9)}


def test_changes_empty_range_and_full_range(spark, table):
    table.merge_mor(_updates(spark, [("r1", "a", 1, "insert")]))
    s = table.current_snapshot().snapshot_id
    assert table.changes(s).count() == 0
    # from the table's creation snapshot, everything is an insert
    got = _changes_map(table.changes(1))
    assert got == {("r1", "a"): ("insert", 1)}


def test_changes_tolerates_in_range_compaction(spark, table):
    table.merge_mor(_updates(spark, [("r1", "a", 1, "insert")]))
    s1 = table.current_snapshot().snapshot_id
    table.merge_mor(_updates(spark, [("r1", "a", 2, "update"), ("r2", "c", 1, "insert")]))
    table.compact()  # folds deltas; files stay on disk until expiry
    table.merge_mor(_updates(spark, [("r2", "c", 3, "update")]))
    got = _changes_map(table.changes(s1))
    assert got == {("r1", "a"): ("update", 2), ("r2", "c"): ("insert", 3)}


def test_changes_tolerates_in_range_rebucket(spark, table):
    """A rebucket in (from, to] changes the bucket spec, so bucket ids
    parsed from post-evolution delta paths must NOT prune the existence
    probe against the old-layout ``from`` snapshot — a pre-existing key
    updated after the rebucket is an update (not an insert) and its
    delete must not vanish from the changelog.

    Keys are chosen so every post-rebucket delta lands in a NEW-spec
    bucket id (11/12/13) that does not exist in the old 4-bucket layout:
    a pruned probe would come back empty and misclassify everything."""
    table.merge_mor(
        _updates(
            spark,
            [("r1", "i", 1, "insert"), ("r1", "d", 1, "insert"), ("r2", "j", 1, "insert")],
        )
    )
    s1 = table.current_snapshot().snapshot_id
    table.rebucket(16)  # folds deltas; spec 4 → 16
    table.merge_mor(_updates(spark, [("r1", "i", 2, "update"), ("r2", "g", 1, "insert")]))
    table.merge_mor(_updates(spark, [("r2", "j", 0, "delete")]))
    got = _changes_map(table.changes(s1))
    assert got == {
        ("r1", "i"): ("update", 2),
        ("r2", "g"): ("insert", 1),
        ("r2", "j"): ("delete", None),
    }


def test_changes_rejects_cow_history_and_non_ancestor(spark, table):
    table.merge_mor(_updates(spark, [("r1", "a", 1, "insert")]))
    s1 = table.current_snapshot().snapshot_id
    table.merge(_updates(spark, [("r1", "a", 2, "update")]))  # CoW commit
    with pytest.raises(ValueError, match="copy-on-write"):
        table.changes(s1)


# -------------------------------------------------------- partition evolution


def test_rebucket_preserves_state_and_evolves_layout(spark, table):
    """Bucket-count evolution: the rewrite must preserve the net state
    byte-for-byte, fold in MoR deltas, leave old snapshots readable with
    their ORIGINAL layout (snapshots are self-describing), and make both
    point lookups and subsequent merges use the new spec."""
    from astro_data_pipeline_spark.lakehouse.table import bucket_expr

    table.merge(_updates(spark, [("r1", f"p{i}", i, "insert") for i in range(20)]))
    table.merge_mor(_updates(spark, [("r1", "p3", 33, "update"), ("r1", "p4", 0, "delete")]))
    before = {(r["repo"], r["path"]): r["v"] for r in table.read().collect()}
    old_snap = table.current_snapshot()

    snap = table.rebucket(16)
    assert snap.n_buckets == 16 and snap.delta_files == {}
    assert snap.summary["from_buckets"] == 4 and snap.summary["to_buckets"] == 16
    after = {(r["repo"], r["path"]): r["v"] for r in table.read().collect()}
    assert after == before

    # time travel: the pre-evolution snapshot reads with its own layout
    assert {
        (r["repo"], r["path"]): r["v"] for r in table.read(snapshot=old_snap).collect()
    } == before
    assert old_snap.n_buckets == 4

    # point lookup prunes with the NEW spec
    hit = table.read_key({"repo": "r1", "path": "p7"})
    b = (
        spark.createDataFrame([("r1", "p7")], "repo string, path string")
        .select(bucket_expr(["repo", "path"], 16))
        .collect()[0][0]
    )
    scanned = hit.inputFiles()
    assert scanned and all(f"_bucket={b}/" in f or f"_bucket%3D{b}/" in f for f in scanned)
    assert hit.collect()[0]["v"] == 7

    # merges after the evolution bucket by the new spec and stay correct
    table.merge(_updates(spark, [("r1", "p7", 77, "update"), ("r9", "x", 9, "insert")]))
    got = {(r["repo"], r["path"]): r["v"] for r in table.read().collect()}
    assert got[("r1", "p7")] == 77 and got[("r9", "x")] == 9
    assert table.current_snapshot().n_buckets == 16

    # idempotence: same count is a no-op returning the current snapshot
    cur = table.current_snapshot()
    assert table.rebucket(16).snapshot_id == cur.snapshot_id


# ------------------------------------------------- review-hardening cases


def test_merge_null_op_is_upsert_not_phantom_delete(spark, table):
    """A NULL op must behave as an upsert: the three-valued-logic trap is
    filter(~(u_here & NULL)) silently DROPPING the base row while every
    classification counter skips it."""
    table.merge(_updates(spark, [("r1", "a", 1, "insert")]))
    snap, m = table.merge(
        spark.createDataFrame(
            [("r1", "a", 2, None), ("r2", "b", 5, None)],
            schema="repo string, path string, v long, op string",
        )
    )
    assert m["totals"]["rows_updated"] == 1
    assert m["totals"]["rows_inserted"] == 1
    assert m["totals"]["rows_deleted"] == 0
    got = {(r["repo"], r["path"]): r["v"] for r in table.read().collect()}
    assert got == {("r1", "a"): 2, ("r2", "b"): 5}


def test_merge_mor_null_op_is_upsert_with_real_tombstone_flag(spark, tmp_path):
    """MoR twin of the NULL-op case: the tombstone flag must be a real
    boolean (a NULL tombstone drops the row from every read's filter)."""
    t = LakeTable.create(spark, str(tmp_path / "mor"), SCHEMA, ["repo", "path"], n_buckets=4)
    t.merge_mor(_updates(spark, [("r1", "a", 1, "insert")]))
    t.merge_mor(
        spark.createDataFrame(
            [("r1", "a", 2, None)],
            schema="repo string, path string, v long, op string",
        )
    )
    got = {(r["repo"], r["path"]): r["v"] for r in t.read().collect()}
    assert got == {("r1", "a"): 2}


def test_point_lookup_with_long_key_column(spark, tmp_path):
    """read_key must hash the probe with the TABLE's key types: hashing
    the string '7' for a long column prunes to the wrong bucket and the
    lookup silently misses."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "lk"), schema, ["id"], n_buckets=8)
    ups = spark.createDataFrame(
        [(i, i * 10, "insert") for i in range(30)], schema="id long, v long, op string"
    )
    t.merge(ups)
    for probe in (7, "7"):  # string input must cast, not mis-hash
        got = t.read_key({"id": probe}).collect()
        assert len(got) == 1 and got[0]["v"] == 70, probe


def test_create_refuses_existing_table(spark, table, tmp_path):
    """Re-creating over a live table would reset the hint while the old
    incarnation's snapshots survive — mixed histories. Must refuse."""
    with pytest.raises(FileExistsError):
        LakeTable.create(spark, table.root, SCHEMA, ["repo", "path"], n_buckets=4)
    # the original table is untouched
    assert table.current_snapshot().snapshot_id == 1


def test_merge_null_key_cow_matches_mor(spark, tmp_path):
    """A NULL merge-key component must behave identically under
    copy-on-write and merge-on-read: MoR's groupBy treats NULL as one key
    group, so CoW's join must be null-safe — otherwise a delete of the
    NULL key silently no-ops and an upsert duplicates the row."""
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), True),
            T.StructField("path", T.StringType(), True),
            T.StructField("v", T.LongType(), True),
        ]
    )
    rows1 = [(None, "a", 1, "insert"), ("r1", "a", 1, "insert")]
    rows2 = [(None, "a", 2, "update"), ("r1", "a", 0, "delete")]
    states = {}
    for mode in ("cow", "mor"):
        t = LakeTable.create(
            spark, str(tmp_path / f"nk-{mode}"), schema, ["repo", "path"], n_buckets=4
        )
        for rows in (rows1, rows2):
            upd = spark.createDataFrame(
                rows, schema="repo string, path string, v long, op string"
            )
            if mode == "cow":
                _, m = t.merge(upd)
            else:
                t.merge_mor(upd)
        states[mode] = sorted(
            ((r["repo"], r["path"], r["v"]) for r in t.read().collect()),
            key=str,
        )
    # NULL-key row updated (not duplicated), r1 deleted — identically
    assert states["cow"] == states["mor"] == [(None, "a", 2)]


def test_merge_touched_buckets_miss_refuses_to_commit(spark, table):
    """A caller-supplied touched_buckets that misses an update row's
    bucket must raise (the row would be written but never registered —
    silent loss), and the refused merge must not commit."""
    table.merge(_updates(spark, [(f"r{i}", f"p{i}", 1, "insert") for i in range(20)]))
    sid = table.current_snapshot().snapshot_id
    upd = _updates(spark, [(f"r{i}", f"p{i}", 2, "update") for i in range(20)])
    from astro_data_pipeline_spark.lakehouse.table import bucket_expr

    buckets = sorted(
        r[0]
        for r in upd.select(bucket_expr(["repo", "path"], 4)).distinct().collect()
    )
    assert len(buckets) > 1  # the miss below is real
    with pytest.raises(ValueError, match="touched_buckets missed"):
        table.merge(upd, touched_buckets=buckets[:1])
    assert table.current_snapshot().snapshot_id == sid  # nothing committed
    # and the correct full set still works
    _, m = table.merge(upd, touched_buckets=buckets)
    assert m["totals"]["rows_updated"] == 20


def test_merge_empty_touched_buckets_refuses_a_nonempty_batch(spark, table):
    """``touched_buckets=[]`` misses every row of a non-empty batch: the
    merge raises like any other miss instead of committing an empty
    snapshot that silently drops the batch, and the head does not move."""
    sid = table.current_snapshot().snapshot_id
    upd = _updates(spark, [("r1", "a", 1, "insert"), ("r2", "b", 1, "insert")])
    with pytest.raises(ValueError, match="touched_buckets missed 2 "):
        table.merge(upd, touched_buckets=[])
    assert table.current_snapshot().snapshot_id == sid
    assert table.read().count() == 0


def test_expire_preserves_batch_ledger_and_chain_integrity(spark, table):
    """Expiry must not shrink the exactly-once resume horizon: batch ids
    of expired snapshots fold into the oldest kept snapshot's inherited
    ledger, and the kept chain re-roots cleanly (no dangling parent)."""
    for i in range(6):
        table.merge(
            _updates(spark, [("r1", "a", i, "insert" if i == 0 else "update")]),
            summary={"batch_id": f"b{i}", "run_scope": "s1"},
        )
    all_ids = {f"b{i}" for i in range(6)}
    assert table.committed_batch_ids() == all_ids
    table.expire_snapshots(keep_last=2)
    # full ledger survives retention; chain walk terminates at the new root
    assert table.committed_batch_ids() == all_ids
    assert table.committed_batch_ids(run_scope="s1") == all_ids
    assert table.committed_batch_ids(run_scope="other") == set()
    chain = table.snapshot_chain()
    assert len(chain) == 2 and chain[-1].parent_id is None
    # a second expiry folds the inherited ledger forward, not just the
    # newly-expired snapshot's own id
    table.merge(_updates(spark, [("r1", "a", 99, "update")]), summary={"batch_id": "b6"})
    table.expire_snapshots(keep_last=1)
    assert table.committed_batch_ids() == all_ids | {"b6"}


def test_changes_empty_range_matches_nonempty_column_order(spark, tmp_path):
    """A delta-free changes() range must emit the same positional shape
    and types (key cols, value cols, change_type, pre-images) as a
    non-empty one, even when the table schema lists a value column first,
    and building it must submit no Spark job."""
    schema = T.StructType(
        [
            T.StructField("v", T.LongType(), True),
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "ord"), schema, ["repo", "path"], n_buckets=2)
    s1 = t.current_snapshot().snapshot_id
    up = spark.createDataFrame(
        [(1, "r1", "a", "insert")], schema="v long, repo string, path string, op string"
    )
    t.merge_mor(up)
    s2 = t.current_snapshot().snapshot_id
    for pre in (False, True):
        nonempty = t.changes(s1, s2, with_preimage=pre)
        sc = spark.sparkContext
        group = f"changes-empty-{pre}"
        sc.setJobGroup(group, group)
        try:
            empty = t.changes(s2, s2, with_preimage=pre)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        cols = ["repo", "path", "v", "change_type"] + (["_pre_v"] if pre else [])
        assert empty.columns == nonempty.columns == cols
        assert empty.dtypes == nonempty.dtypes
        assert empty.count() == 0


def test_lineage_empty_before_first_merge(table):
    df = table.lineage()
    assert df.count() == 0
    assert "snapshot_id" in df.columns


def test_changes_null_key_classified_and_preimaged(spark, tmp_path):
    """NULL merge keys flow through the changelog like any other key:
    the resolve groups NULL keys together, so a delete of a NULL-key row
    is a 'delete' (not a dropped phantom 'insert') and its pre-image
    surfaces."""
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), True),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "nk"), schema, ["k"], n_buckets=2)
    t.merge(
        spark.createDataFrame(
            [(None, 1, "insert"), ("a", 2, "insert")],
            schema="k string, v long, op string",
        )
    )
    s1 = t.current_snapshot().snapshot_id
    t.merge_mor(
        spark.createDataFrame(
            [(None, None, "delete"), ("a", 20, "update")],
            schema="k string, v long, op string",
        )
    )
    ch = {r["k"]: r for r in t.changes(s1, with_preimage=True).collect()}
    assert ch[None]["change_type"] == "delete"
    assert ch[None]["_pre_v"] == 1
    assert ch["a"]["change_type"] == "update" and ch["a"]["_pre_v"] == 2


def test_maintenance_report_and_auto_maintain(spark, tmp_path):
    """Manifest-only health report drives threshold maintenance: delta
    counts trigger compaction of ripe buckets only; expiry skips with a
    reason while a branch pins history, runs once it's gone."""
    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("v", T.LongType(), True)]
    )
    t = LakeTable.create(spark, str(tmp_path / "mt"), schema, ["k"], n_buckets=2)
    t.merge(
        spark.createDataFrame([(i, i) for i in range(50)], "k long, v long")
        .withColumn("op", F.lit("insert"))
    )
    for i in range(3):
        t.merge_mor(
            spark.createDataFrame([(1, 100 + i)], "k long, v long")
            .withColumn("op", F.lit("update"))
        )
    rep = t.maintenance_report()
    assert rep["total_delta_files"] == 3
    assert rep["clustered"] is False and rep["total_small_files"] is None
    # below threshold: no compact; no branches: expiry runs
    acts = t.auto_maintain(max_delta_files=8, keep_last=3)
    assert [a["action"] for a in acts] == ["expire_snapshots"]
    assert t.maintenance_report()["total_delta_files"] == 3  # untouched
    # a branch pins history
    t.create_branch("wip")
    acts = t.auto_maintain(max_delta_files=2, keep_last=3)
    assert acts[0]["action"] == "compact"
    assert any("skipped" in a for a in acts if a["action"] == "expire_snapshots")
    assert t.maintenance_report()["total_delta_files"] == 0  # compacted
    t.drop_branch("wip")
    acts = t.auto_maintain(max_delta_files=2, keep_last=1, orphan_grace_s=0)
    assert [a["action"] for a in acts] == ["expire_snapshots"]
    # with the grace window off, the just-compacted deltas' superseded
    # files are reclaimed — a concrete count, not a tautology
    assert acts[0]["expired"] > 0
    assert {r["k"]: r["v"] for r in t.read().collect()}[1] == 102


def test_maintenance_report_counts_small_files_when_clustered(spark, tmp_path):
    schema = T.StructType(
        [T.StructField("k", T.LongType(), False), T.StructField("ts", T.LongType(), True)]
    )
    t = LakeTable.create(spark, str(tmp_path / "sm"), schema, ["k"], n_buckets=2)
    t.merge(
        spark.createDataFrame([(i, i) for i in range(2000)], "k long, ts long")
        .withColumn("op", F.lit("insert"))
    )
    t.cluster_by("ts", 400)
    rep = t.maintenance_report()
    assert rep["clustered"] is True
    assert rep["total_small_files"] is not None  # counts known for every file


def test_changes_across_restore_target_is_empty_diff(spark, table):
    """restore re-parents the chain onto its target, so changes(from the
    target) across the restore is the EMPTY diff (state identical) — no
    special-casing, no refusal; undone snapshots fail the ancestor check
    (full coverage in test_restore.py::test_changes_across_restore)."""
    table.merge_mor(_updates(spark, [("r1", "a", 1, "insert")]))
    s1 = table.current_snapshot().snapshot_id
    table.merge_mor(_updates(spark, [("r1", "a", 2, "update")]))
    table.restore(s1)
    assert table.changes(s1).count() == 0


def test_null_safe_join_refuses_outer_joins(spark):
    """full/right outer joins would emit NULL keys for right-only rows
    (keys are kept from the left side) — refused, not corrupted."""
    import pytest

    from astro_data_pipeline_spark.lakehouse.table import null_safe_join

    a = spark.createDataFrame([("k1", 1)], "k string, v int")
    b = spark.createDataFrame([("k2", 2)], "k string, w int")
    for how in ("full", "right", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="unsupported how"):
            null_safe_join(a, b, ["k"], how)


def test_rewrite_commits_keep_the_manifest_rule(spark, table):
    """Every bucket rewrite (CoW merge, compact, rebucket, cluster_by) and
    the merge-on-read append between them leaves a manifest that agrees
    with itself: the commit's parent is the previous head, file stats
    cover exactly the base files, a rewritten bucket keeps no delta, the
    commit's own files are exactly its attempt directory's, and the table
    reads back as a Python model of the same operations. A CoW delete of
    every row of a bucket drops that bucket from the manifest."""
    import glob

    from astro_data_pipeline_spark.lakehouse.table import bucket_expr, commit_files

    keys = [(f"r{i}", "p") for i in range(40)]
    bucket_of = {
        (r["repo"], r["path"]): r["b"]
        for r in spark.createDataFrame(keys, "repo string, path string")
        .withColumn("b", bucket_expr(["repo", "path"], 4))
        .collect()
    }
    model: dict = {}

    def commit(run, rewritten):
        """Run one commit; ``rewritten`` names the buckets it rewrote
        (None: every bucket)."""
        prev = table.current_snapshot().snapshot_id
        run()
        snap = table.current_snapshot()
        assert snap.parent_id == prev
        base = {p for fs in snap.files.values() for p in fs}
        assert set(snap.file_stats) == base
        if rewritten is None:
            assert not any(snap.delta_files.values())
        for b in rewritten or []:
            assert not snap.delta_files.get(str(b))
        own = {
            os.path.relpath(p, table.root)
            for kind in ("commit", "delta")
            for p in glob.glob(
                os.path.join(table.root, "data", f"{kind}-{snap.snapshot_id}-*", "*", "*.parquet")
            )
        }
        assert {p for fs in commit_files(snap).values() for p in fs} == own
        got = {(r["repo"], r["path"]): r["v"] for r in table.read().collect()}
        assert got == model
        return snap

    def apply(rows):
        for repo, path, v, op in rows:
            if op == "delete":
                model.pop((repo, path), None)
            else:
                model[(repo, path)] = v
        return _updates(spark, rows)

    seed = apply([(r, p, i, "insert") for i, (r, p) in enumerate(keys)])
    commit(lambda: table.merge(seed), sorted(set(bucket_of.values())))
    assert len(table.current_snapshot().files) == 4

    # 1. CoW merge touching 2 of the 4 buckets
    pick = [next(k for k in keys if bucket_of[k] == b) for b in (0, 1)]
    upd = apply([(r, p, 100 + model[(r, p)], "update") for r, p in pick])
    commit(lambda: table.merge(upd), [0, 1])

    # 2. merge-on-read: deltas in every bucket
    mor = apply(
        [(r, p, -i, "update") for i, (r, p) in enumerate(keys) if i % 3 == 0]
        + [(r, p, None, "delete") for i, (r, p) in enumerate(keys) if i % 5 == 1]
    )
    snap = commit(lambda: table.merge_mor(mor), [])
    assert str(2) in snap.delta_files

    # 3. CoW merge deleting every live row of bucket 2
    doomed = apply([(r, p, None, "delete") for (r, p) in list(model) if bucket_of[(r, p)] == 2])
    snap = commit(lambda: table.merge(doomed), [2])
    assert "2" not in snap.files and "2" not in snap.delta_files

    # 4. compact folds the remaining deltas
    snap = commit(lambda: table.compact(), None)
    assert snap.summary["compacted_buckets"]

    # 5. rebucket, 6. cluster_by: whole-table rewrites
    snap = commit(lambda: table.rebucket(8), None)
    assert snap.n_buckets == 8
    snap = commit(lambda: table.cluster_by("v", 5), None)
    assert snap.cluster_spec["cols"] == ["v"]


def _write_stage_tasks(spark, group, fn):
    """Run ``fn`` under job group ``group``; return its result and the
    task count of the final stage of the group's last job — the
    partitioned file write."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    last = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    return out, tracker.getStageInfo(max(last.stageIds)).numTasks


def test_bucketed_write_width_follows_data(spark, tmp_path):
    """A small MoR batch and a small CoW merge into a 16-bucket table each
    write in ONE task: the bucket exchange is sized by AQE from the
    batch's bytes, not pinned at one task per bucket (16) or per touched
    bucket. AQE never splits a partition, so every touched bucket still
    gets exactly one file per commit, and the table reads back as the
    pandas last-writer-wins model."""
    import pandas as pd

    from astro_data_pipeline_spark.lakehouse.table import bucket_expr

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=16)
    batches = [
        [(f"r{i % 5}", f"p{i}", i, "insert") for i in range(50)],
        [("r0", "p0", 100, "update"), ("r1", "p1", None, "delete"),
         ("r2", "p2", 7, "update"), ("r3", "p3", 8, "update"), ("r9", "new", 1, "insert")],
    ]

    def buckets_of(rows):
        df = _updates(spark, rows).select(bucket_expr(["repo", "path"], 16).alias("b"))
        return {str(r["b"]) for r in df.distinct().collect()}

    mor_buckets = buckets_of(batches[0])
    (snap, _), tasks = _write_stage_tasks(
        spark, "width-mor", lambda: t.merge_mor(_updates(spark, batches[0]))
    )
    assert tasks == 1
    assert set(snap.delta_files) == mor_buckets
    assert all(len(fs) == 1 for fs in snap.delta_files.values())

    cow_buckets = buckets_of(batches[1])
    assert len(cow_buckets) >= 3
    (snap, _), tasks = _write_stage_tasks(
        spark, "width-cow", lambda: t.merge(_updates(spark, batches[1]))
    )
    assert tasks == 1
    commit_dir = f"data/commit-{snap.snapshot_id}-"
    rewritten = {b: fs for b, fs in snap.files.items() if fs[0].startswith(commit_dir)}
    assert set(rewritten) == cow_buckets
    assert all(len(fs) == 1 for fs in rewritten.values())
    assert not set(snap.delta_files) & cow_buckets

    log = pd.DataFrame(
        [r for batch in batches for r in batch], columns=["repo", "path", "v", "op"]
    )
    key = ["repo", "path"]
    want = log.drop_duplicates(key, keep="last")
    want = want[want["op"] != "delete"].drop(columns="op")
    got = t.read().toPandas()
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )
