"""Property-style copy-on-write merge check: random batches against a
pure-Python model.

Each batch mixes inserts, updates, deletes of present and absent keys,
a NULL key and NULL ops (an upsert), and lands on buckets that already
hold merge-on-read deltas. After every CoW ``merge`` the table must
equal the model, its four totals must equal the model's
classification, and its state must equal a merge-on-read twin fed the
same batches (``merge_mor`` + ``read()``). The later merges run on a
table with a cluster spec, so they also restore the cluster sort.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import types as T

from astro_data_pipeline_spark.lakehouse import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("s", T.StringType()),
    ]
)
TOTALS = ("rows_inserted", "rows_updated", "rows_deleted", "rows_delete_noop")


def _df(spark, batch: dict):
    return spark.createDataFrame(
        [(k, *vals, op) for k, (vals, op) in batch.items()],
        T.StructType([*SCHEMA.fields, T.StructField("op", T.StringType())]),
    )


def _state(table: LakeTable) -> set:
    return {tuple(r) for r in table.read().select("k", "v", "s").collect()}


def _random_batch(rng, model: dict, size: int) -> dict:
    """The NULL key plus unique keys drawn from a pool that overlaps the
    model, each with a random op."""
    keys = [None] + [f"k{int(i)}" for i in rng.choice(40, size=size - 1, replace=False)]
    batch = {}
    for k in keys:
        op = str(rng.choice(["insert", "update", "delete", "delete", "null"]))
        vals = (int(rng.integers(0, 1000)), ["a", "b", None][int(rng.integers(0, 3))])
        batch[k] = (vals, None if op == "null" else op)
    return batch


def _apply(model: dict, batch: dict) -> dict:
    """The model's merge: returns the batch's expected totals."""
    totals = dict.fromkeys(TOTALS, 0)
    for k, (vals, op) in batch.items():
        existed = k in model
        if op == "delete":
            totals["rows_deleted" if existed else "rows_delete_noop"] += 1
            model.pop(k, None)
        else:
            totals["rows_updated" if existed else "rows_inserted"] += 1
            model[k] = vals
    return totals


def test_random_cow_merges_match_model_and_mor(spark, tmp_path):
    rng = np.random.default_rng(5)
    cow = LakeTable.create(spark, str(tmp_path / "cow"), SCHEMA, ["k"], n_buckets=4)
    mor = LakeTable.create(spark, str(tmp_path / "mor"), SCHEMA, ["k"], n_buckets=4)
    model: dict = {}
    for i in range(3):
        if i == 1:
            cow.cluster_by("v", target_rows_per_file=4)
        # MoR deltas in the buckets the CoW merge then rewrites
        delta = _random_batch(rng, model, 8)
        _apply(model, delta)
        cow.merge_mor(_df(spark, delta))
        mor.merge_mor(_df(spark, delta))
        batch = _random_batch(rng, model, 16)
        expected = _apply(model, batch)
        snap, metrics = cow.merge(_df(spark, batch))
        mor.merge_mor(_df(spark, batch))
        assert metrics["totals"] == expected
        assert {k: snap.summary[k] for k in TOTALS} == expected
        state = _state(cow)
        assert state == {(k, *v) for k, v in model.items()}
        assert state == _state(mor)
    assert cow.current_snapshot().cluster_spec["cols"] == ["v"]
