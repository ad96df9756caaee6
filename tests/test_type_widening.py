"""Type-widening schema evolution: metadata-only column type promotion.

Iceberg-v3 / Delta "type widening" analog: ``LakeTable.widen_columns``
commits a wider schema without rewriting a single data file; existing
narrow-typed parquet files upcast at scan time (Spark 4's parquet reader
promotes int32→int64/double, float→double, date→timestamp_ntz, and
decimal precision/scale increases natively). Reference analog: the V2
migration widening counter/metric columns over live tables without a
table rewrite (additive evolution's sibling).
"""

from __future__ import annotations

import datetime
import decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from astro_data_pipeline_spark.lakehouse import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("hits", T.IntegerType(), True),
        T.StructField("score", T.FloatType(), True),
    ]
)


def _narrow(spark, rows):
    return spark.createDataFrame(
        rows, schema="repo string, path string, hits int, score float, op string"
    )


def _wide(spark, rows):
    return spark.createDataFrame(
        rows, schema="repo string, path string, hits long, score double, op string"
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], n_buckets=4)
    t.merge(_narrow(spark, [("r1", "a", 1, 1.5, "insert"), ("r1", "b", 2, 2.5, "insert")]))
    return t


def test_widen_is_metadata_only(table):
    before = table.current_snapshot()
    snap = table.widen_columns({"hits": T.LongType(), "score": T.DoubleType()})
    # no data file rewritten, no delta appended — a pure schema commit
    assert snap.files == before.files
    assert snap.delta_files == before.delta_files
    assert snap.summary["operation"] == "widen-columns"
    got = dict(table.read().select("hits", "score").dtypes)
    assert got == {"hits": "bigint", "score": "double"}
    rows = {r["path"]: (r["hits"], r["score"]) for r in table.read().collect()}
    assert rows == {"a": (1, 1.5), "b": (2, 2.5)}


def test_wide_values_after_widen_mixed_with_narrow_base(spark, table):
    """Narrow base files + wide post-widen deltas resolve together: the
    whole point of widening is values the old type cannot hold."""
    table.widen_columns({"hits": T.LongType(), "score": T.DoubleType()})
    big = 5_000_000_000  # > int32 max
    table.merge_mor(
        _wide(
            spark,
            [
                ("r1", "a", big, 0.1, "update"),  # overwrite a narrow row
                ("r2", "c", big + 7, 0.2, "insert"),
                ("r1", "b", 0, 0.0, "delete"),
            ],
        )
    )
    rows = {r["path"]: r["hits"] for r in table.read().collect()}
    assert rows == {"a": big, "c": big + 7}
    # compaction folds narrow base + wide delta under the wide schema
    table.compact()
    rows2 = {r["path"]: r["hits"] for r in table.read().collect()}
    assert rows2 == rows


def test_cow_merge_after_widen_promotes_untouched_rows(spark, table):
    table.widen_columns({"hits": T.LongType()})
    # score is still float: a double-typed update batch would write a
    # physically-double parquet column the float read schema cannot scan
    # — write-side enforcement must refuse it up front
    with pytest.raises(ValueError, match="widen_columns"):
        table.merge(_wide(spark, [("r9", "z", 2**40, 9.0, "insert")]))
    table.widen_columns({"score": T.DoubleType()})
    table.merge(_wide(spark, [("r9", "z", 2**40, 9.0, "insert")]))
    got = {r["path"]: r["hits"] for r in table.read().collect()}
    assert got == {"a": 1, "b": 2, "z": 2**40}


def test_narrow_key_batch_conforms_to_table_hash_type(spark, tmp_path):
    """A batch whose KEY column arrives narrower than the table's must
    hash with the table's type: xxhash64(int k) != xxhash64(bigint k),
    so an un-cast narrow key would land in the wrong bucket and vanish
    from bucket-pruned reads."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "nk"), schema, ["k"], n_buckets=8)
    narrow = spark.createDataFrame(
        [(i, f"v{i}", "insert") for i in range(20)], schema="k int, v string, op string"
    )
    t.merge(narrow)
    # point lookup goes through the bucket-pruned path — a mis-hashed
    # write would read back empty here even though a full scan sees it
    for i in (0, 7, 19):
        assert [r["v"] for r in t.read_key({"k": i}).collect()] == [f"v{i}"]
    # merge-on-read path too
    t.merge_mor(
        spark.createDataFrame([(3, "updated", "update")], schema="k int, v string, op string")
    )
    assert [r["v"] for r in t.read_key({"k": 3}).collect()] == ["updated"]


def test_time_travel_keeps_narrow_schema(table):
    pre = table.current_snapshot()
    table.widen_columns({"hits": T.LongType()})
    old = table.read(snapshot=pre)
    assert dict(old.dtypes)["hits"] == "int"
    assert dict(table.read().dtypes)["hits"] == "bigint"


def test_changes_across_widen_boundary(spark, table):
    """Incremental diff spanning a widen commit classifies under the
    ``to`` (wide) schema; the widen commit itself contributes no rows."""
    frm = table.current_snapshot().snapshot_id
    table.widen_columns({"hits": T.LongType(), "score": T.DoubleType()})
    table.merge_mor(_wide(spark, [("r1", "a", 2**33, 1.5, "update"), ("r3", "d", 4, 4.5, "insert")]))
    ch = {r["path"]: (r["change_type"], r["hits"]) for r in table.changes(frm).collect()}
    assert ch == {"a": ("update", 2**33), "d": ("insert", 4)}
    assert dict(table.changes(frm).dtypes)["hits"] == "bigint"


def test_widen_rejects_illegal_changes(table):
    # narrowing
    with pytest.raises(ValueError, match="not a lossless widening"):
        table.widen_columns({"hits": T.ShortType()})
    # cross-family
    with pytest.raises(ValueError, match="not a lossless widening"):
        table.widen_columns({"hits": T.StringType()})
    # long -> double loses precision past 2^53
    table.widen_columns({"hits": T.LongType()})
    with pytest.raises(ValueError, match="not a lossless widening"):
        table.widen_columns({"hits": T.DoubleType()})
    # no-op same type (hits is bigint after the widen above)
    with pytest.raises(ValueError, match="already"):
        table.widen_columns({"hits": T.LongType()})
    # unknown column
    with pytest.raises(ValueError, match="unknown column"):
        table.widen_columns({"nope": T.LongType()})
    # key columns are bucket-hashed by their physical type: widening one
    # would silently re-bucket every existing key
    with pytest.raises(ValueError, match="key column"):
        table.widen_columns({"path": T.StringType()})


def test_merge_evolve_schema_adds_and_widens_in_one_call(spark, table):
    """Delta mergeSchema analog: evolve_schema=True lets one merge carry
    a new column AND a widened type; without it the same batch is
    refused (wider type) / silently trimmed (new column)."""
    batch = spark.createDataFrame(
        [("r1", "a", 5_000_000_000, 1.5, "tagged", "update")],
        schema="repo string, path string, hits long, score float, tag string, op string",
    )
    with pytest.raises(ValueError, match="widen_columns"):
        table.merge(batch)
    before = table.current_snapshot().snapshot_id
    table.merge(batch, evolve_schema=True)
    got = dict(table.read().dtypes)
    assert got["hits"] == "bigint" and got["tag"] == "string"
    rows = {r["path"]: (r["hits"], r["tag"]) for r in table.read().collect()}
    assert rows == {"a": (5_000_000_000, "tagged"), "b": (2, None)}
    # add + widen together land as ONE combined metadata commit (no
    # half-evolved crash window, snapshot chain grows by one), and
    # evolution commits never carry a batch_id: a crash between the
    # metadata commit and the data commit must not mark the batch done
    assert table.current_snapshot().snapshot_id == before + 2  # evolve + merge
    evo = [s for s in table.snapshot_chain() if s.summary.get("operation") == "evolve"]
    assert len(evo) == 1 and "batch_id" not in evo[0].summary
    assert evo[0].summary["evolved_columns"] == ["tag"]
    assert evo[0].summary["widened"] == {"hits": "bigint"}
    # merge-on-read path evolves too
    b2 = spark.createDataFrame(
        [("r9", "z", 1, 2.5, "x", 3, "insert")],
        schema="repo string, path string, hits long, score double, tag string, extra int, op string",
    )
    table.merge_mor(b2, evolve_schema=True)
    got = dict(table.read().dtypes)
    assert got["score"] == "double" and got["extra"] == "int"
    [z] = table.read().filter(F.col("path") == "z").collect()
    assert (z["extra"], z["tag"]) == (3, "x")


def test_wider_key_batch_error_points_at_rebucket(spark, tmp_path):
    """A batch whose KEY arrives wider than the table's must not be sent
    to widen_columns (which categorically refuses keys) — the error names
    rebucket(), the operation that can actually do a key migration."""
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "wk"), schema, ["k"], n_buckets=4)
    wide = spark.createDataFrame([(1, "x", "insert")], schema="k long, v string, op string")
    with pytest.raises(ValueError, match="rebucket"):
        t.merge(wide)


def test_widen_decimal_precision_and_scale(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("amt", T.DecimalType(10, 2), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "d"), schema, ["k"], n_buckets=2)
    up = spark.createDataFrame([("a", decimal.Decimal("12.34"), "insert")],
                               schema="k string, amt decimal(10,2), op string")
    t.merge(up)
    # precision+scale increase is lossless; integer-part shrink is not
    with pytest.raises(ValueError, match="not a lossless widening"):
        t.widen_columns({"amt": T.DecimalType(10, 4)})
    t.widen_columns({"amt": T.DecimalType(20, 4)})
    [row] = t.read().collect()
    assert row["amt"] == decimal.Decimal("12.3400")
    assert dict(t.read().dtypes)["amt"] == "decimal(20,4)"


def test_widen_date_to_timestamp_ntz(spark, tmp_path):
    """date -> timestamp_ntz reads back at midnight, and the file stats
    move from epoch-days to epoch-micros with it, so ``read_between``
    prunes against the widened bounds. ``evolve_to`` adding a column in
    the same commit takes the same schema+stats step."""
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("d", T.DateType(), True),
        ]
    )
    up = spark.createDataFrame(
        [("a", "2024-03-05", "insert"), ("b", "2024-03-09", "insert"), ("c", "2024-04-20", "insert")],
        schema="k string, d string, op string",
    ).withColumn("d", F.to_date("d"))
    lo, hi = datetime.datetime(2024, 3, 1), datetime.datetime(2024, 3, 10)
    for how in ("widen_columns", "evolve_to"):
        t = LakeTable.create(spark, str(tmp_path / how), schema, ["k"], n_buckets=2)
        t.merge(up)
        if how == "widen_columns":
            t.widen_columns({"d": T.TimestampNTZType()})
        else:
            t.evolve_to(T.StructType.fromDDL("k string, d timestamp_ntz, x bigint"))
        row = t.read().filter(F.col("k") == "a").first()
        assert str(row["d"]) == "2024-03-05 00:00:00"
        want = t.read().filter((F.col("d") >= lo) & (F.col("d") <= hi))
        assert sorted(t.read_between("d", lo, hi).collect()) == sorted(want.collect()), how
        assert want.count() == 2
