#!/usr/bin/env python
"""Benchmark harness: headline queries + the CDC replay north-star.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default 32) and prints ONE JSON line:

    {"metric": "total_bench_sec", "value": N, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1, "cdc_events_per_sec": N, ...}

The CDC replay benchmark generates (and caches) a deterministic change
log scaled to the SF, replays it into a fresh LakeTable, and reports
end-to-end events/sec (replay → committed snapshot) — the BASELINE.json
north-star metric. Scaling evidence (local[8] vs local[32]) is produced
by ``scripts/bench_scaling.py`` into ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "cdc_lww_current_state",
    "cdc_salted_lww",
    "tpch_q1_pricing_summary",
    "join_fact_dim_revenue_by_brand",
    "join_three_way_nation_revenue",
    "join_asof_last_click_before_purchase",
    "join_range_within_radius",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "window_top1_order_per_customer",
    "window_scd2_intervals",
    "window_sessionize_events",
    "dedup_exact_by_sha",
    "dedup_jaccard_shingle_pairs",
    "dedup_minhash_lsh_candidates",
    "dedup_simhash_hamming_buckets",
    "sim_cosine_topk_bruteforce",
    "text_quality_scores",
    "scalar_photometric_calibration",
    # r4 note: img_quality_scores was re-scoped to the oracled golden
    # sample (99 images; the driver-verifiable slice), so its r3 bench
    # number (1.98 s) corresponds to img_quality_ranking_full below —
    # the unchanged full-catalog worst-first kernel workload. r5 note:
    # the registered img_quality_ranking is now the golden-subset
    # ranking under a full oracle; the full-catalog workload keeps its
    # bench slot via the non-registered function (special-cased in
    # main), renamed _full so the lineage of the number is explicit.
    "img_quality_scores",
    "img_quality_ranking_full",
    "sample_balanced_mixture",
    "text_benchmark_contamination",
    "cdc_json_wal_source",
    "text_repetition_filter",
    "sample_pack_sequences",
    "text_tfidf_top_terms",
    "text_chunk_sliding_windows",
    "text_winnowing_fingerprints",
    "sample_token_budget_per_source",
    "text_unigram_rarity_score",
    "dedup_embedding_cosine_pairs",
    "sim_ivf_topk_cell_search",
    "dedup_substring_overlap_pairs",
    "agg_doclen_percentiles",
    "scalar_coordinate_transforms",
    # sf-scaled lakehouse statement surface (declarative MERGE clauses;
    # row-level UPDATE/DELETE WHERE over a MoR table)
    "cdc_conditional_merge",
    "cdc_row_level_ops",
]


def sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def _cdc_fixture_params(sf: float) -> tuple[dict, str]:
    """SF → (generator params, on-disk cache path). ONE implementation:
    cdc_fixture_dir (generates) and cdc_fixture_cached (probes) must
    agree on the params and path format, else the probe silently reports
    'not cached' — or matches a stale dir — after any params change."""
    params = dict(
        n_repos=max(int(200 * sf * 10), 20),
        n_keys=max(int(1_200_000 * sf), 1000),
        n_events=max(int(6_000_000 * sf), 5000),
    )
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench")
    tag = f"sf{sf}-{params['n_keys']}-{params['n_events']}"
    return params, os.path.join(root, tag)


def cdc_fixture_dir(sf: float) -> dict:
    """Deterministic CDC change log scaled to SF, cached across runs."""
    from astro_data_pipeline_spark.cdc.fixtures import (
        FIXTURE_VERSION,
        generate_change_log,
    )

    params, out = _cdc_fixture_params(sf)

    def _read_valid() -> dict | None:
        try:
            with open(os.path.join(out, "meta.json")) as f:
                meta = json.load(f)
            if meta.get("fixture_version") == FIXTURE_VERSION:
                return meta
        except (OSError, ValueError, KeyError, TypeError, AttributeError):
            pass
        return None

    meta = _read_valid()
    if meta is not None:
        return meta
    # build in a private sibling dir, meta.json last, one atomic rename:
    # a concurrent process (bench + a scaling ladder) must never read a
    # half-written segment (same discipline as cdc/queries e2e fixture)
    import uuid

    tmp = out + f".tmp-{os.getpid()}-{uuid.uuid4().hex[:6]}"
    shutil.rmtree(tmp, ignore_errors=True)
    meta = generate_change_log(tmp, **params)
    meta = {
        k: (v.replace(tmp, out) if isinstance(v, str) else v)
        for k, v in meta.items()
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    # lock-serialized atomic publish shared with the e2e fixture —
    # ONE implementation of the concurrency-critical protocol
    from astro_data_pipeline_spark.cdc.fixtures import publish_fixture_dir

    return publish_fixture_dir(tmp, out, _read_valid)


def cdc_fixture_cached(sf: float) -> bool:
    """True iff the SF's change-log fixture is already on disk and valid
    — a probe that NEVER generates (used to decide whether the optional
    cross-SF matview pair is affordable inside the driver's bench run)."""
    from astro_data_pipeline_spark.cdc.fixtures import FIXTURE_VERSION

    _, out = _cdc_fixture_params(sf)
    try:
        with open(os.path.join(out, "meta.json")) as f:
            return json.load(f).get("fixture_version") == FIXTURE_VERSION
    except (OSError, ValueError, KeyError, TypeError, AttributeError):
        return False


def bench_cdc_replay(spark, sf: float, n_batches: int = 4, trials: int = 5) -> dict:
    """Timed replay → committed, compacted snapshot; best of ``trials``.

    The sandbox host shows heavy episodic contention (identical runs
    vary 3-10x minute to minute), so a single timing is closer to a
    coin flip than a measurement; best-of-N reports the engine's
    sustained throughput when the machine is actually available.
    Trials=5 since round 4: the round-3 "regression" (303k->185k) was
    pure host contention — an interleaved A/B of r2 code vs HEAD found
    HEAD faster at both sf0.1 and sf1.0 (BENCH/REPLAY_AB.md) — and two
    extra ~2.5 s trials are cheap insurance against recording another
    contention episode as an engine number.
    """
    from astro_data_pipeline_spark.cdc import apply as A
    from astro_data_pipeline_spark.cdc.runner import CdcRunner, read_event_log
    from astro_data_pipeline_spark.lakehouse import LakeTable
    from pyspark.sql import types as T

    from astro_data_pipeline_spark.session import scratch_tmpdir_base

    meta = cdc_fixture_dir(sf)
    events = read_event_log(spark, meta["v1_path"], meta["v2_path"])
    times, times_compacted = [], []
    for trial in range(trials):
        # scratch table on tmpfs when available: the sandbox's shared
        # virtual disk injects co-tenant IO stalls into the measurement
        with tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
            table = LakeTable.create(
                spark,
                os.path.join(td, "lake"),
                T.StructType(A.BASE_TABLE_FIELDS),
                A.KEY_COLS,
                n_buckets=64,
            )
            # Primary timed region: replay → durably COMMITTED merge-on-read
            # snapshots (the north-star metric's end state — every batch is
            # atomic, resumable, and readable). Full compaction is timed
            # separately: it is amortized background maintenance at scale
            # (Iceberg rewrite_data_files analog), not part of ingest.
            t0 = time.time()
            CdcRunner(spark, table, run_id=f"bench{trial}", mode="mor").replay(
                events, n_batches=n_batches
            )
            t1 = time.time()
            table.compact()
            t2 = time.time()
            times.append(t1 - t0)
            times_compacted.append(t2 - t0)
            n_rows = table.read().count()
    dt = min(times)
    dtc = min(times_compacted)
    return {
        "cdc_replay_sec": round(dt, 3),
        "cdc_replay_trials_sec": [round(t, 3) for t in times],
        "cdc_replay_compacted_sec": round(dtc, 3),
        "cdc_events": meta["n_events"],
        "cdc_events_per_sec": round(meta["n_events"] / dt, 1),
        "cdc_events_per_sec_compacted": round(meta["n_events"] / dtc, 1),
        "cdc_final_rows": n_rows,
    }


def bench_matview_refresh(
    spark, sf: float, trials: int = 2, hot_buckets: int | None = None
) -> dict:
    """Incremental-matview maintenance vs the full rebuild it replaces,
    apples to apples: replay the first ~90% of the change log, seed TWO
    identical per-repo aggregate views (untimed), apply the ~10% tail,
    then time (a) one incremental ``refresh()`` on the first view and
    (b) one ``refresh(full=True)`` on the second — both end in a durable
    committed view snapshot. (a) is O(tail): a projected changelog scan
    (`changes(columns=...)` — the payload column never leaves parquet),
    signed-contribution agg, bucket-pruned stored join, one MERGE. (b)
    is O(base): a column-pruned scan + MoR LWW resolve of every base
    row. At bench SFs the base is small enough that (b)'s single-job
    shape can still win on fixed overhead (~4 s of driver planning +
    job barriers in (a)); the crossover where (a) is the only
    sustainable option is base ≫ tail — the 10^10-row operating point
    this engine targets, where (b) is a full-table scan per refresh
    cycle. Both numbers are reported so that trade is visible, not
    hidden."""
    from astro_data_pipeline_spark.cdc import apply as A
    from astro_data_pipeline_spark.cdc.runner import CdcRunner, read_event_log
    from astro_data_pipeline_spark.lakehouse import LakeTable
    from astro_data_pipeline_spark.lakehouse.matview import (
        AggSpec,
        IncrementalAggView,
    )
    from astro_data_pipeline_spark.session import scratch_tmpdir_base
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from astro_data_pipeline_spark.lakehouse.table import bucket_expr

    meta = cdc_fixture_dir(sf)
    events = read_event_log(spark, meta["v1_path"], meta["v2_path"])
    cut = int(
        events.selectExpr("percentile(lsn, 0.9) AS c").collect()[0]["c"]
    )
    head = events.filter(F.col("lsn") <= cut)
    tail = events.filter(F.col("lsn") > cut)
    if hot_buckets is not None:
        # skewed-tail variant: keep only events whose key hashes into
        # the first hot_buckets of the base's 64 — the hot-repo shape
        # real change streams have (VERDICT_r04 next #3)
        tail = tail.filter(bucket_expr(A.KEY_COLS, 64) < hot_buckets)
    n_tail = tail.count()
    best_inc, best_full = None, None
    for trial in range(trials):
        with tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
            table = LakeTable.create(
                spark,
                os.path.join(td, "lake"),
                T.StructType(A.BASE_TABLE_FIELDS),
                A.KEY_COLS,
                n_buckets=64,
            )
            tag = "mvs" if hot_buckets is not None else "mvb"
            runner = CdcRunner(spark, table, run_id=f"{tag}{trial}", mode="mor")
            runner.replay(head, n_batches=3)
            specs = [
                AggSpec("count", None, "n_files"),
                AggSpec("sum", "last_lsn", "sum_lsn"),
                AggSpec("max", "last_lsn", "max_lsn"),
            ]
            v_inc = IncrementalAggView.create(
                spark, os.path.join(td, "mv-inc"), table, ["repo"], specs,
                n_buckets=16,
            )
            v_full = IncrementalAggView.create(
                spark, os.path.join(td, "mv-full"), table, ["repo"], specs,
                n_buckets=16,
            )
            runner.replay(tail, n_batches=1)
            t0 = time.time()
            v_inc.refresh()
            t1 = time.time()
            v_full.refresh(full=True)
            t2 = time.time()
            best_inc = t1 - t0 if best_inc is None else min(best_inc, t1 - t0)
            best_full = t2 - t1 if best_full is None else min(best_full, t2 - t1)
    return {
        "mv_refresh_sec": round(best_inc, 3),
        "mv_full_refresh_sec": round(best_full, 3),
        "mv_tail_events": n_tail,
        "mv_refresh_events_per_sec": round(n_tail / best_inc, 1),
    }


def bench_matview_refresh_skew(
    spark, sf: float, trials: int = 2, hot_buckets: int = 4
) -> dict:
    """The matview pair under a REALISTIC skewed tail: the same harness
    as ``bench_matview_refresh`` (one implementation — a tweak to trial
    count, specs, or batching cannot silently diverge the two numbers
    the comparison exists to make) with the tail filtered to
    ``hot_buckets`` of the base's 64. The uniform-tail pair is the
    incremental path's worst case (its scan of the ``from`` files is
    O(base)); here that scan bucket-prunes to hot_buckets/64 and the
    crossover arrives at small SF (BENCH/MATVIEW.md)."""
    r = bench_matview_refresh(spark, sf, trials=trials, hot_buckets=hot_buckets)
    return {
        "mv_skew_refresh_sec": r["mv_refresh_sec"],
        "mv_skew_full_refresh_sec": r["mv_full_refresh_sec"],
        "mv_skew_tail_events": r["mv_tail_events"],
        "mv_skew_hot_buckets": hot_buckets,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_from_dir(sf_dir)

    from astro_data_pipeline_spark import registry
    from astro_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="adps-bench", cpus=cpus)

    queries: dict[str, float] = {}
    all_q = registry.all_queries()
    # full-catalog ranking workload: not a registered gate query (its
    # kernel outputs have no portable oracle at catalog scale) but kept
    # on the bench so the full pixel-kernel scan cost stays visible
    from astro_data_pipeline_spark.multimodal.imaging import (
        img_quality_ranking_full,
    )

    extra = {"img_quality_ranking_full": img_quality_ranking_full}
    for name in HEADLINE:
        fn = all_q[name] if name in all_q else extra[name]
        # noop sink materializes EVERY column (count() lets Catalyst prune
        # unaggregated computed columns — a timing of nothing); best-of-2
        # rides out the host's episodic contention and first-run codegen.
        best = None
        for _ in range(2):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        queries[name] = round(best, 3)

    cdc = bench_cdc_replay(spark, sf)
    queries["cdc_replay"] = cdc["cdc_replay_sec"]
    mv = bench_matview_refresh(spark, sf)
    queries["mv_refresh"] = mv["mv_refresh_sec"]
    mv_skew = bench_matview_refresh_skew(spark, sf)

    # Incremental-vs-full matview crossover (VERDICT_r03 item 6): at
    # sf0.1 the ~10% tail touches every bucket, so the incremental
    # path's scan of the ``from`` files is O(base) — same scan class as the
    # full rebuild plus the changes machinery, and incremental loses by
    # design at toy SF. The pair at sf1.0 shows the crossover (the full
    # rebuild's aggregate+merge grows with the base, the incremental
    # merge only with changed groups). Run it ONLY when the sf1.0
    # fixture is already cached: the pair costs ~60-90 s on a cached
    # fixture but minutes of generation on a cold cache.
    mv_x: dict = {}
    if sf != 1.0 and cdc_fixture_cached(1.0):
        x = bench_matview_refresh(spark, 1.0, trials=1)
        mv_x = {
            "mv_refresh_sec_sf1": x["mv_refresh_sec"],
            "mv_full_refresh_sec_sf1": x["mv_full_refresh_sec"],
            "mv_refresh_events_per_sec_sf1": x["mv_refresh_events_per_sec"],
        }
        # sf1.0 replay throughput (VERDICT_r04 next #7): the sf0.1
        # micro-batches are fixed-commit-cost-dominated (278k vs ~800k
        # ev/s says more about batch size than the engine), so when the
        # big fixture is already cached, report the scaling-regime
        # number alongside — same job, 10x the events per batch.
        x1 = bench_cdc_replay(spark, 1.0, trials=2)
        mv_x.update(
            {
                "cdc_events_per_sec_sf1": x1["cdc_events_per_sec"],
                "cdc_replay_sec_sf1": x1["cdc_replay_sec"],
                "cdc_events_sf1": x1["cdc_events"],
            }
        )

    total = round(sum(queries.values()), 3)
    out = {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        "cdc_events_per_sec": cdc["cdc_events_per_sec"],
        "cdc_events_per_sec_compacted": cdc["cdc_events_per_sec_compacted"],
        "cdc_events": cdc["cdc_events"],
        "cdc_final_rows": cdc["cdc_final_rows"],
        **mv,
        **mv_skew,
        **mv_x,
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
