"""Property-style ``changes()`` check: random merge-on-read histories
against a pure-Python model.

The history mixes inserts, updates, deletes of present and absent
(ghost) keys and a NULL key over a small key pool, so keys flip-flop
between commits; a ``compact()`` and a ``rebucket()`` land inside it.
For ranges across the whole history, ``changes(from, to)`` with and
without pre-images and with projected columns must equal the model's
net diff: a key some batch in ``(from, to]`` wrote is an insert, an
update or a delete by whether it is live at ``from`` and at ``to``, and
nets out when it is live at neither; every other key is absent.
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
VALUES = ("v", "s")


def _random_batch(rng, size: int) -> dict:
    """Unique keys from a small pool plus, sometimes, the NULL key, each
    with a random op (a delete of an absent key is a ghost delete)."""
    pool = [None] + [f"k{i}" for i in range(10)]
    batch = {}
    for i in rng.choice(len(pool), size=size, replace=False):
        op = str(rng.choice(["insert", "update", "delete"]))
        vals = (int(rng.integers(0, 100)), ["a", "b", None][int(rng.integers(0, 3))])
        batch[pool[int(i)]] = (vals, op)
    return batch


def _expected(states: list, written: list, a: int, b: int, cols, preimage) -> dict:
    """The model's changelog from history point ``a`` to ``b``."""
    before, after = states[a], states[b]
    touched = set().union(*written[a + 1 : b + 1])
    idx = [VALUES.index(c) for c in cols]
    out = {}
    for k in touched:
        if k in after:
            kind = "update" if k in before else "insert"
            post = tuple(after[k][i] for i in idx)
        elif k in before:
            kind, post = "delete", (None,) * len(idx)
        else:
            continue
        pre = tuple(before[k][i] if k in before else None for i in idx)
        out[k] = (kind, post, pre if preimage else ())
    return out


def test_random_histories_changes_match_model(spark, tmp_path):
    rng = np.random.default_rng(11)
    table = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=8)
    model: dict = {}
    # history point i: the snapshot id, the state and the keys written
    sids = [table.current_snapshot().snapshot_id]
    states, written = [dict(model)], [set()]
    for step in range(8):
        if step == 3:
            table.compact()
            batch = {}
        elif step == 6:
            table.rebucket(3)
            batch = {}
        else:
            batch = _random_batch(rng, 6)
            table.merge_mor(
                spark.createDataFrame(
                    [(k, *vals, op) for k, (vals, op) in batch.items()],
                    "k string, v long, s string, op string",
                )
            )
            for k, (vals, op) in batch.items():
                if op == "delete":
                    model.pop(k, None)
                else:
                    model[k] = vals
        sids.append(table.current_snapshot().snapshot_id)
        states.append(dict(model))
        written.append(set(batch))

    last = len(sids) - 1
    # ranges across the compaction, across the rebucket (from the last
    # commit before it, so only new-layout bucket ids are touched), across
    # both, after the rebucket, and the empty range
    ranges = [(0, last), (1, 5), (2, 4), (6, 8), (7, 8), (3, 3)]
    projections = [None, ["v"], ["s"]]
    for i, (a, b) in enumerate(ranges):
        cols = projections[i % len(projections)]
        for preimage in (False, True):
            got_df = table.changes(sids[a], sids[b], with_preimage=preimage, columns=cols)
            names = list(cols or VALUES)
            pre = [f"_pre_{c}" for c in names] if preimage else []
            assert got_df.columns == ["k", *names, "change_type", *pre]
            got = {
                r["k"]: (
                    r["change_type"],
                    tuple(r[c] for c in names),
                    tuple(r[c] for c in pre),
                )
                for r in got_df.collect()
            }
            assert got == _expected(states, written, a, b, names, preimage), (a, b, cols)
