"""Logical replication over the change feed: initial seed, incremental
sync (insert/update/delete), column-pruned replicas, idempotent sync
under the ledger, fan-out chains, a horizon that outlives sink
maintenance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from astro_data_pipeline_spark.lakehouse import LakeTable, Replicator

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("payload", T.StringType(), True),
    ]
)


def _up(spark, rows):
    return spark.createDataFrame(rows, schema="k string, v long, payload string, op string")


@pytest.fixture()
def source(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "src"), SCHEMA, ["k"], n_buckets=4)
    t.merge(
        _up(
            spark,
            [
                ("a", 1, "pa", "insert"),
                ("b", 2, "pb", "insert"),
                ("c", 3, "pc", "insert"),
            ],
        )
    )
    return t


def _state(table, cols=("k", "v")):
    return {r["k"]: tuple(r[c] for c in cols) for r in table.read().collect()}


def test_initial_seed_and_incremental_sync(spark, tmp_path, source):
    r = Replicator.create_replica(source, str(tmp_path / "rep"))
    assert _state(r.replica) == _state(source)
    source.merge_mor(
        _up(
            spark,
            [
                ("a", 10, "pa2", "update"),
                ("b", None, None, "delete"),
                ("d", 4, "pd", "insert"),
            ],
        )
    )
    stats = r.sync()
    assert stats["noop"] is False
    assert _state(r.replica) == _state(source)
    assert set(_state(r.replica)) == {"a", "c", "d"}


def test_column_pruned_replica(spark, tmp_path, source):
    r = Replicator.create_replica(
        source, str(tmp_path / "rep"), columns=["v"], n_buckets=2
    )
    assert r.replica.current_snapshot().n_buckets == 2
    assert set(r.replica.read().columns) == {"k", "v"}
    source.merge_mor(_up(spark, [("a", 99, "huge-payload", "update")]))
    r.sync()
    assert _state(r.replica)["a"] == ("a", 99)


def test_sync_is_idempotent_and_noop_without_changes(spark, tmp_path, source):
    r = Replicator.create_replica(source, str(tmp_path / "rep"))
    assert r.sync()["noop"] is True
    source.merge_mor(_up(spark, [("e", 5, "pe", "insert")]))
    s1 = r.sync()
    assert s1["noop"] is False
    chain = len(r.replica.snapshot_chain())
    assert r.sync()["noop"] is True
    assert len(r.replica.snapshot_chain()) == chain
    # the applied range is in the replica's ledger under the repl scope
    assert any(
        b.startswith("repl:")
        for b in r.replica.committed_batch_ids(run_scope=f"replication:{source.root}")
    )


def test_fanout_chain_replica_of_replica(spark, tmp_path, source):
    r1 = Replicator.create_replica(source, str(tmp_path / "rep1"))
    r2 = Replicator.create_replica(r1.replica, str(tmp_path / "rep2"))
    source.merge_mor(_up(spark, [("a", 42, "pa3", "update"), ("c", None, None, "delete")]))
    r1.sync()
    r2.sync()
    assert _state(r2.replica) == _state(source)


def test_multiple_source_commits_collapse_to_one_sync(spark, tmp_path, source):
    r = Replicator.create_replica(source, str(tmp_path / "rep"))
    # three commits on the source, one of them a flip-flop on key f
    source.merge_mor(_up(spark, [("f", 1, "p1", "insert")]))
    source.merge_mor(_up(spark, [("f", 2, "p2", "update")]))
    source.merge_mor(_up(spark, [("f", None, None, "delete")]))
    stats = r.sync()
    assert stats["noop"] is False
    # the net diff for f is NOTHING (insert..delete nets out)
    assert "f" not in _state(r.replica)
    assert _state(r.replica) == _state(source)


def test_key_mismatch_refused(spark, tmp_path, source):
    other = LakeTable.create(
        spark,
        str(tmp_path / "other"),
        T.StructType([T.StructField("z", T.StringType(), False), T.StructField("v", T.LongType(), True)]),
        ["z"],
        n_buckets=2,
    )
    with pytest.raises(ValueError, match="key"):
        Replicator(source, other)


def test_schema_evolution_flows_through_replication(spark, tmp_path, source):
    """Source adds a column and widens nothing vs the replica: a
    replicate-all replica picks the new column up on the next sync;
    a fixed-column replica ignores it."""
    r_all = Replicator.create_replica(source, str(tmp_path / "rall"))
    r_fixed = Replicator.create_replica(
        source, str(tmp_path / "rfix"), columns=["v"]
    )
    source.add_columns([T.StructField("extra", T.StringType(), True)])
    source.merge_mor(
        spark.createDataFrame(
            [("a", 11, "pa", "boom", "update"), ("z", 7, "pz", "zing", "insert")],
            schema="k string, v long, payload string, extra string, op string",
        )
    )
    r_all.sync()
    r_fixed.sync()
    got = {r["k"]: r.asDict() for r in r_all.replica.read().collect()}
    assert got["a"]["extra"] == "boom" and got["z"]["extra"] == "zing"
    assert got["b"]["extra"] is None  # pre-evolution rows null-fill
    assert "extra" not in r_fixed.replica.read().columns
    assert {r["k"]: r["v"] for r in r_fixed.replica.read().collect()}["z"] == 7


def test_widened_column_widens_replica(spark, tmp_path):
    narrow = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("n", T.IntegerType(), True),
        ]
    )
    src = LakeTable.create(spark, str(tmp_path / "wsrc"), narrow, ["k"], n_buckets=2)
    src.merge(
        spark.createDataFrame([("a", 1, "insert")], schema="k string, n int, op string")
    )
    r = Replicator.create_replica(src, str(tmp_path / "wrep"))
    src.widen_columns({"n": T.LongType()})
    src.merge_mor(
        spark.createDataFrame(
            [("b", 2**40, "insert")], schema="k string, n long, op string"
        )
    )
    r.sync()
    got = {row["k"]: row["n"] for row in r.replica.read().collect()}
    assert got == {"a": 1, "b": 2**40}
    n_type = [f.dataType for f in r.replica.current_snapshot().schema.fields if f.name == "n"][0]
    assert isinstance(n_type, T.LongType)


def test_sync_across_base_rebucket(spark, tmp_path, source):
    """A rebucket on the source (partition-spec evolution) is a logical
    no-op the changelog tolerates; the next sync spans it and stays
    exact."""
    r = Replicator.create_replica(source, str(tmp_path / "rep"))
    source.merge_mor(_up(spark, [("x", 9, "px", "insert")]))
    source.rebucket(8)
    source.merge_mor(_up(spark, [("a", 11, "pa2", "update")]))
    stats = r.sync()
    assert stats["noop"] is False
    assert _state(r.replica) == _state(source)


@pytest.mark.parametrize("sink", ["mor_view", "replica"])
def test_horizon_survives_sink_maintenance(spark, tmp_path, source, sink):
    """A merge-on-read view and a replica keep their applied-through mark
    after compaction and expiry drop every refresh or sync commit from
    their own chain: the mark rides the ledger records that expiry folds
    into the oldest kept snapshot."""
    from astro_data_pipeline_spark.lakehouse.matview import AggSpec, IncrementalAggView

    if sink == "mor_view":
        view = IncrementalAggView.create(
            spark, str(tmp_path / "mv"), source, ["payload"],
            [AggSpec("count", None, "n"), AggSpec("max", "v", "max_v")],
            n_buckets=2, write_mode="mor",
        )
        table, advance = view.table, view.refresh

        def check():
            got = sorted(tuple(row) for row in view.read().collect())
            assert got == sorted(tuple(row) for row in view.full_compute().collect())
    else:
        r = Replicator.create_replica(source, str(tmp_path / "rep"))
        table, advance = r.replica, r.sync

        def check():
            cols = ("k", "v", "payload")
            assert _state(r.replica, cols) == _state(source, cols)

    source.merge_mor(_up(spark, [("a", 10, "pa", "update"), ("d", 4, "pd", "insert")]))
    assert advance()["noop"] is False
    assert table.compact() is not None
    table.expire_snapshots(keep_last=1)
    assert [s.summary["operation"] for s in table.snapshot_chain()] == ["compact"]
    source.merge_mor(_up(spark, [("b", None, None, "delete"), ("e", 7, "pa", "insert")]))
    assert advance()["noop"] is False
    check()
