"""Point-lookup acceleration: parquet bloom filters on merge-key
columns and manifest-stats file pruning in read_key.

Reference analog: the reference's point lookups ride Postgres B-tree
indexes (DatabaseOptimizationConfig.java, V1 schema indexes); a lake
table's equivalents are (a) the key->bucket hash prune, (b) per-file
min/max manifest stats after a key-clustering rewrite, and (c) parquet
bloom filters dropping row groups whose filter misses the pushed-down
key literal — min/max can never prune hash-scattered key VALUES, which
is exactly the gap blooms fill.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from astro_data_pipeline_spark.lakehouse import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.LongType(), True),
    ]
)


def _bloom_offsets(spark, file_path: str) -> tuple[dict[str, int], dict[str, int]]:
    """Per column of the file's first row group: the bloom filter offset
    (-1 = none) and, for the columns that carry one, its bitset bytes."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(file_path), conf
    )
    rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
    try:
        cols = rdr.getFooter().getBlocks().get(0).getColumns()
        offs, bitsets = {}, {}
        for i in range(cols.size()):
            chunk = cols.get(i)
            name = chunk.getPath().toDotString()
            offs[name] = chunk.getBloomFilterOffset()
            if offs[name] >= 0:
                bitsets[name] = rdr.readBloomFilter(chunk).getBitsetSize()
        return offs, bitsets
    finally:
        rdr.close()


def _mk(spark, tmp_path, n=400, n_buckets=4) -> LakeTable:
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=n_buckets)
    rows = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"), F.lit("insert").alias("op")
    )
    t.merge(rows)
    return t


def test_bloom_filter_written_on_key_columns_only(spark, tmp_path):
    t = _mk(spark, tmp_path)
    rel = next(iter(t.current_snapshot().files.values()))[0]
    offs, _ = _bloom_offsets(spark, os.path.join(t.root, rel))
    assert offs["k"] >= 0, offs
    assert offs["v"] == -1, offs


def test_bloom_filter_sized_to_the_file(spark, tmp_path):
    """Each key bloom is sized to its file's distinct count: a ~25-row
    bucket file carries a filter of at most 4 KiB (not the 64 KiB floor
    of parquet-mr's 5 default adaptive candidates), while a 20k-key file
    still gets one large enough for 1% FPP, which read_key prunes with."""
    small = _mk(spark, tmp_path / "small", n=100, n_buckets=4)
    rels = [r for rs in small.current_snapshot().files.values() for r in rs]
    assert len(rels) == 4
    for rel in rels:
        _, bitsets = _bloom_offsets(spark, os.path.join(small.root, rel))
        assert set(bitsets) == {"k"}, bitsets
        assert bitsets["k"] <= 4096, (rel, bitsets)

    big = _mk(spark, tmp_path / "big", n=20_000, n_buckets=1)
    (rel,) = big.current_snapshot().files["0"]
    _, bitsets = _bloom_offsets(spark, os.path.join(big.root, rel))
    assert bitsets["k"] >= 32 * 1024, bitsets
    got = big.read_key({"k": 12_345}).collect()
    assert [(r["k"], r["v"]) for r in got] == [(12_345, 123_450)]
    assert big.read_key({"k": 20_000}).count() == 0


def test_point_prune_after_key_clustering(spark, tmp_path):
    """cluster_by on the key column restores value locality, so the
    manifest stats narrow a point lookup to ~one base file per bucket."""
    t = _mk(spark, tmp_path, n=2000, n_buckets=2)
    t.cluster_by("k", target_rows_per_file=100)
    rep = t.point_prune_report({"k": 1234})
    assert rep["base_files"] >= 5
    assert rep["pruned"] >= rep["base_files"] - 2, rep
    got = t.read_key({"k": 1234}).collect()
    assert [(r["k"], r["v"]) for r in got] == [(1234, 12340)]
    # absent key: pruning may drop every file, result must be empty not error
    assert t.read_key({"k": 999999}).count() == 0


def test_point_prune_sound_under_mor_deltas(spark, tmp_path):
    """Deltas are never pruned: an update landing AFTER the clustering
    rewrite must win the lookup even though its value sits outside every
    clustered base file's stats range for that key."""
    t = _mk(spark, tmp_path, n=1000, n_buckets=2)
    t.cluster_by("k", target_rows_per_file=100)
    upd = spark.createDataFrame([(77, 70007, "update")], "k long, v long, op string")
    t.merge_mor(upd)
    got = t.read_key({"k": 77}).collect()
    assert [(r["k"], r["v"]) for r in got] == [(77, 70007)]
    rep = t.point_prune_report({"k": 77})
    assert rep["delta_files"] >= 1
    # the report twin counts exactly the files its read scans
    assert len(t.read_key({"k": 77}).inputFiles()) == rep["kept"] + rep["delta_files"]


def test_point_prune_string_key_keeps_all(spark, tmp_path):
    """String keys carry no manifest stats — pruning must keep every
    file (missing means unprunable, never empty) and stay correct."""
    schema = T.StructType(
        [
            T.StructField("name", T.StringType(), False),
            T.StructField("v", T.LongType(), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "s"), schema, ["name"], n_buckets=2)
    rows = spark.range(50).select(
        F.concat(F.lit("key-"), F.col("id")).alias("name"),
        F.col("id").alias("v"),
        F.lit("insert").alias("op"),
    )
    t.merge(rows)
    rep = t.point_prune_report({"name": "key-7"})
    assert rep["pruned"] == 0
    got = t.read_key({"name": "key-7"}).collect()
    assert [(r["name"], r["v"]) for r in got] == [("key-7", 7)]


def test_read_key_local_parity_and_latency(spark, tmp_path):
    """read_key_local must agree with the Spark read_key on inserts,
    MoR updates, tombstoned deletes, compacted state, evolution
    null-fill, and absent keys — with zero Spark jobs on the hot path."""
    import time

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from astro_data_pipeline_spark.lakehouse import LakeTable

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "pl"), schema, ["id"], n_buckets=8)
    t.merge(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(200)], "id long, v string"
        ).withColumn("op", F.lit("insert"))
    )
    assert t.read_key_local({"id": 7}) == {"id": 7, "v": "v7"}
    assert t.read_key_local({"id": 9999}) is None
    # MoR update + delete resolve locally by max _seq
    t.merge_mor(
        spark.createDataFrame([(7, "v7b"), (8, None)], "id long, v string")
        .withColumn("op", F.when(F.col("id") == 8, "delete").otherwise("update"))
    )
    assert t.read_key_local({"id": 7}) == {"id": 7, "v": "v7b"}
    assert t.read_key_local({"id": 8}) is None
    t.compact()
    assert t.read_key_local({"id": 7}) == {"id": 7, "v": "v7b"}
    assert t.read_key_local({"id": 8}) is None
    # evolution: a column added after the row was written null-fills
    t.add_columns([T.StructField("extra", T.LongType(), True)])
    assert t.read_key_local({"id": 7}) == {"id": 7, "v": "v7b", "extra": None}
    # cast fallback path (string key literal over a long column) agrees
    assert t.read_key_local({"id": "7"}) == {"id": 7, "v": "v7b", "extra": None}
    # parity against the Spark path across a sample
    for k in (0, 7, 8, 42, 199, 5000):
        local = t.read_key_local({"id": k})
        via_spark = [r.asDict() for r in t.read_key({"id": k}).collect()]
        assert local == (via_spark[0] if via_spark else None)
    # latency: local path must be far below a scheduled Spark job
    t0 = time.time()
    for k in range(20):
        t.read_key_local({"id": k})
    local_ms = (time.time() - t0) / 20 * 1000
    t0 = time.time()
    for k in range(5):
        t.read_key({"id": k}).collect()
    spark_ms = (time.time() - t0) / 5 * 1000
    assert local_ms < spark_ms, (local_ms, spark_ms)
    print(f"read_key_local {local_ms:.1f} ms vs read_key {spark_ms:.1f} ms")
