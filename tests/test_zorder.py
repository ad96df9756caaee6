"""Multi-dimensional Z-order clustering: one rewrite makes manifest
stats prune range scans on EVERY clustered column.

Reference analog: the reference's multi-predicate catalog queries lean
on composite/GIST indexes (V1 schema, DatabaseOptimizationConfig.java);
the lake-table restatement is Delta's OPTIMIZE ZORDER — rank-normalize
each dimension through approximate quantile boundaries, bit-interleave
the indices into a Morton code, sort files by it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from astro_data_pipeline_spark.lakehouse import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("x", T.LongType(), True),
        T.StructField("y", T.DoubleType(), True),
        T.StructField("name", T.StringType(), True),
    ]
)


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=2)
    n = 4000
    # x and y independent: a 1-D sort on x leaves y scattered, so only a
    # genuine 2-D interleave can prune both
    rows = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 64).alias("x"),
        ((F.col("id") * 37 % 101) / 1.0).alias("y"),
        F.concat(F.lit("r"), F.col("id")).alias("name"),
        F.lit("insert").alias("op"),
    )
    t.merge(rows)
    return t


def _expected(spark, table):
    return {
        (r["k"], r["x"], r["y"]) for r in table.read().select("k", "x", "y").collect()
    }


def test_zorder_prunes_both_dimensions(spark, table):
    before = _expected(spark, table)
    table.cluster_by(["x", "y"], target_rows_per_file=100)
    # correctness: the rewrite loses nothing
    assert _expected(spark, table) == before

    rep_x = table.prune_report("x", 10, 12)
    rep_y = table.prune_report("y", 5.0, 10.0)
    assert rep_x["base_files"] >= 20
    assert rep_x["pruned"] > 0, rep_x
    assert rep_y["pruned"] > 0, rep_y

    got = {r["k"] for r in table.read_between("x", 10, 12).select("k").collect()}
    want = {k for (k, x, y) in before if 10 <= x <= 12}
    assert got == want
    got_y = {r["k"] for r in table.read_between("y", 5.0, 10.0).select("k").collect()}
    want_y = {k for (k, x, y) in before if 5.0 <= y <= 10.0}
    assert got_y == want_y


def test_zorder_beats_1d_on_second_dimension(spark, table):
    """After a 1-D cluster on x, y-range scans keep ~every file; the
    z-order rewrite must prune strictly more files on y."""
    table.cluster_by("x", target_rows_per_file=100)
    rep_1d = table.prune_report("y", 5.0, 10.0)
    table.cluster_by(["x", "y"], target_rows_per_file=100)
    rep_z = table.prune_report("y", 5.0, 10.0)
    assert rep_z["pruned"] > rep_1d["pruned"], (rep_1d, rep_z)


def test_zorder_rejects_non_numeric_dimension(spark, table):
    with pytest.raises(ValueError, match="numeric"):
        table.cluster_by(["x", "name"], target_rows_per_file=100)
    # 1-D on a string column stays allowed
    table.cluster_by("name", target_rows_per_file=500)


def test_zorder_sound_under_mor_update(spark, table):
    table.cluster_by(["x", "y"], target_rows_per_file=100)
    upd = spark.createDataFrame(
        [(7, 999, 999.0, "updated", "update")],
        "k long, x long, y double, name string, op string",
    )
    table.merge_mor(upd)
    # the updated row's new x sits outside every clustered file's range,
    # but deltas never prune — the range scan must still find it
    got = table.read_between("x", 990, 1000).select("k", "x").collect()
    assert [(r["k"], r["x"]) for r in got] == [(7, 999)]


def test_compact_maintains_cluster_spec(spark, tmp_path):
    """cluster_by persists a spec; a later MoR merge + compact must
    restore the sort (tight per-file stats) instead of silently
    degrading data skipping, and the spec must survive in the snapshot
    chain. Dropping a clustered column retires the spec."""
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    from astro_data_pipeline_spark.lakehouse import LakeTable

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("ts", T.LongType(), True),
            T.StructField("x", T.StringType(), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "cm"), schema, ["k"], n_buckets=2)
    rows = [(i, i * 10, f"x{i}") for i in range(4000)]
    t.merge(
        spark.createDataFrame(rows, "k long, ts long, x string")
        .withColumn("op", F.lit("insert"))
    )
    t.cluster_by("ts", 500)
    assert t.current_snapshot().cluster_spec["cols"] == ["ts"]
    # dirty the table, then compact: clustering must be restored
    t.merge_mor(
        spark.createDataFrame(
            [(i, i * 10 + 1, "upd") for i in range(0, 4000, 7)],
            "k long, ts long, x string",
        ).withColumn("op", F.lit("update"))
    )
    t.compact()
    snap = t.current_snapshot()
    assert snap.cluster_spec["cols"] == ["ts"]  # carried through compact
    assert not any(snap.delta_files.values())
    rep = t.prune_report("ts", lo=100, hi=200)
    assert rep["pruned"] > 0  # post-compact files are value-tight again
    # correctness unaffected
    got = t.read().filter((F.col("ts") >= 100) & (F.col("ts") <= 200)).count()
    assert got == spark.createDataFrame(rows, "k long, ts long, x string").filter(
        "ts between 100 and 200"
    ).count()
    # dropping the clustered column retires the spec
    t.drop_columns(["ts"])
    assert t.current_snapshot().cluster_spec is None


def test_rebucket_and_cow_merge_keep_clustering_effective(spark, tmp_path):
    """The maintained-clustering contract must hold through BOTH
    non-maintenance rewrites: rebucket (spec evolution) and CoW merges
    (which leave buckets delta-free, so compact never revisits them).
    Each must re-sort AND re-split — one wide sorted file per bucket
    prunes nothing."""
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    from astro_data_pipeline_spark.lakehouse import LakeTable

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("ts", T.LongType(), True),
        ]
    )
    t = LakeTable.create(spark, str(tmp_path / "rk"), schema, ["k"], n_buckets=2)
    t.merge(
        spark.createDataFrame([(i, i * 10) for i in range(4000)], "k long, ts long")
        .withColumn("op", F.lit("insert"))
    )
    t.cluster_by("ts", 500)
    assert t.prune_report("ts", lo=100, hi=200)["pruned"] > 0
    # spec evolution: pruning must survive the rebucket
    t.rebucket(4)
    rep = t.prune_report("ts", lo=100, hi=200)
    assert rep["pruned"] > 0, f"rebucket flattened clustering: {rep}"
    # CoW merge rewrites a touched bucket delta-free: still value-tight
    t.merge(
        spark.createDataFrame([(i, i * 10 + 1) for i in range(0, 4000, 3)], "k long, ts long")
        .withColumn("op", F.lit("update"))
    )
    rep = t.prune_report("ts", lo=100, hi=200)
    assert rep["pruned"] > 0, f"CoW merge flattened clustering: {rep}"
    assert t.read().count() == 4000


def test_zorder_boundaries_persisted_in_spec(spark, table):
    table.cluster_by(["x", "y"], 400)
    spec = table.current_snapshot().cluster_spec
    assert spec["cols"] == ["x", "y"]
    assert spec["boundaries"] is not None and len(spec["boundaries"]) == 2
    assert all(len(b) > 0 for b in spec["boundaries"])


def test_rebucket_cluster_and_merge_builder_jobs_carry_step_tags(spark, table):
    """rebucket's write, a two-column cluster_by (its quantile pass and
    its write) and a merge builder's bucket collect carry an
    ``adps:<layer>.<step>`` job tag, like every other engine job."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def jobs():
        jsc.listenerBus().waitUntilEmpty()
        return list(
            sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                jsc.statusStore().jobsList(None)
            )
        )

    floor = max(j.jobId() for j in jobs())
    table.rebucket(4)
    table.cluster_by(["x", "y"], 400)
    src = spark.createDataFrame([(1, 7)], "k long, x long")
    table.merge_builder(src).when_matched_update(set={"x": F.col("s.x")}).execute()
    newer = [j for j in jobs() if j.jobId() > floor]
    assert newer
    untagged = [
        j.jobId()
        for j in newer
        if not any(t.startswith("adps:") for t in j.jobTags().mkString(",").split(","))
    ]
    assert untagged == []
