"""Randomized matview maintenance: seeded random op sequences (inserts,
updates, deletes, group migrations, NULL groups/values, batched commits,
skipped-refresh cycles, view compaction under MoR mode) checked against
a full recompute after EVERY refresh. The bespoke tests pin single
transitions; the compositions — a delete retracting an extreme in the
same multi-commit range as a group migration and a resurrection — are
where untested interactions would live (same rationale as the replay
and schema-evolution property suites)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from astro_data_pipeline_spark.lakehouse import LakeTable
from astro_data_pipeline_spark.lakehouse.matview import AggSpec, IncrementalAggView

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("grp", T.StringType(), True),
        T.StructField("v", T.LongType(), True),
        T.StructField("w", T.DoubleType(), True),
    ]
)

GROUPS = ["g0", "g1", "g2", None]
SPECS = [
    AggSpec("count", None, "n"),
    AggSpec("sum", "v", "sv"),
    AggSpec("avg", "v", "av"),
    AggSpec("max", "v", "mx"),
    AggSpec("min", "v", "mn"),
]


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        (tuple(r[c] for c in cols) for r in df.select(*cols).collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_random_interleavings_match_full_recompute(spark, tmp_path, seed, write_mode):
    rng = random.Random(1000 * seed + (write_mode == "mor"))
    _run_interleavings(spark, tmp_path, rng, write_mode, SPECS, rising=False)


# max-only: a rising value never lowers a max, so a refresh can skip the
# dirty probe entirely; a min would make every raise a candidate
RISING_SPECS = [s for s in SPECS if s.kind != "min"]


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_rising_values_skip_path_matches_full_recompute(spark, tmp_path, write_mode):
    """LSN-like values: every insert or update carries a value above any
    seen so far, as a ``max(last_lsn)`` view sees them. Ranges with no
    candidate group take the no-probe, no-rescan branch; deletes and
    group moves still make real candidates, so both branches run inside
    the same random multi-commit sequences."""
    rng = random.Random(5000 + (write_mode == "mor"))
    stats = _run_interleavings(
        spark, tmp_path, rng, write_mode, RISING_SPECS, rising=True
    )
    # some range that retracted rows (updates or deletes) still skipped
    assert any(r and s["dirty_candidates"] == 0 for r, s in stats), stats


def _run_interleavings(spark, tmp_path, rng, write_mode, specs, rising):
    """Random commits and refreshes, the view checked against a full
    recompute after every refresh; returns, per refresh, whether its
    range retracted any row and the refresh's stats."""
    base = LakeTable.create(
        spark, str(tmp_path / "b"), SCHEMA, ["k"], n_buckets=4
    )
    counter = iter(range(1_000_000))

    def value():
        if rising:
            return next(counter)
        return rng.choice([None, rng.randrange(-50, 50)])

    live: dict[int, tuple] = {}
    # seed rows
    init = []
    for k in range(12):
        grp = rng.choice(GROUPS)
        v = next(counter) if rising else rng.randrange(-50, 50)
        row = (k, grp, v, None)
        live[k] = row
        init.append((*row, "insert"))
    base.merge(
        spark.createDataFrame(init, "k long, grp string, v long, w double, op string")
    )
    view = IncrementalAggView.create(
        spark, str(tmp_path / "mv"), base, ["grp"], specs, n_buckets=4,
        write_mode=write_mode,
    )

    refreshes, retracted = [], False
    for cycle in range(4):
        # 1-2 commits per cycle, each a batch of random ops
        for _ in range(rng.randrange(1, 3)):
            batch, touched = [], set()
            for _ in range(rng.randrange(1, 5)):
                k = rng.randrange(0, 16)
                if k in touched:
                    continue  # merge contract: key-collapsed batches
                touched.add(k)
                retracted |= k in live
                if k in live and rng.random() < 0.3:
                    batch.append((k, None, None, None, "delete"))
                    del live[k]
                else:
                    # insert or update; group migration and value flips
                    # (incl. the group's current extreme) arise naturally;
                    # rising updates mostly stay in their group
                    if rising and k in live and rng.random() < 0.7:
                        grp = live[k][1]
                    else:
                        grp = rng.choice(GROUPS)
                    row = (
                        k,
                        grp,
                        value(),
                        rng.choice([None, float(rng.randrange(0, 10))]),
                    )
                    op = "update" if k in live else "insert"
                    live[k] = row
                    batch.append((*row, op))
            if batch:
                base.merge_mor(
                    spark.createDataFrame(
                        batch, "k long, grp string, v long, w double, op string"
                    )
                )
        if rng.random() < 0.25:
            continue  # skipped refresh: next one spans multiple commits
        stats = view.refresh()
        refreshes.append((retracted, stats))
        retracted = False
        # every dirty group is a candidate, so a range with no candidate
        # loses nothing by skipping the probe
        assert stats["dirty_rescans"] <= stats["dirty_candidates"], stats
        if write_mode == "mor" and rng.random() < 0.3:
            view.table.compact()
        assert _rows(view.read()) == _rows(view.full_compute()), (
            f"mode={write_mode} cycle={cycle} rising={rising}"
        )

    # catch up any skipped tail, then cross-check against a FRESH view
    view.refresh()
    fresh = IncrementalAggView.create(
        spark, str(tmp_path / "fresh"), base, ["grp"], specs, n_buckets=4
    )
    assert _rows(view.read()) == _rows(fresh.read())
    return refreshes
