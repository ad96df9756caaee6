#!/usr/bin/env python
"""Concurrent mixed-workload bench — the Spark restatement of the
reference's concurrent-load suite (db_performance_test.py:327-425:
N users × T seconds of weighted mixed ops, success-rate band >95%).

Shape: one LakeTable seeded by a CDC replay, then

- ``--users`` reader threads in FAIR-scheduler pools, each looping a
  weighted op mix until the deadline (reference weights 40/30/20/10):
    point_lookup   40%  — read_key: bucket-pruned single-key probe
                          (the cone-search analog, SURVEY §3.3)
    range_scan     30%  — lsn-window count (magnitude_query analog)
    recent_rows    20%  — top-50 by last_lsn (recent_objects analog)
    health_check   10%  — 1-row action (SELECT 1 analog)
- one writer thread replaying the remaining half of the change log into
  the SAME table while readers run — merge commits racing reads, the
  part the reference's read-only storm never exercises.

FAIR pools (spark.scheduler.pool per thread) keep one slow range scan
from starving point lookups — the Spark analog of the reference's
per-connection independence. Latencies are per-op wall ms; the band
check mirrors the reference: success_rate > 95%.

Usage:
    python scripts/bench_concurrent.py                   # defaults: 16 users, 45 s, sf0.01
    python scripts/bench_concurrent.py --users 32 --duration 120 --sf 0.1
Prints one JSON line; --md writes BENCH/CONCURRENT.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OP_NAMES = ("point_lookup", "range_scan", "recent_rows", "health_check")
OP_WEIGHTS = (40, 30, 20, 10)


def _build_table(spark, sf: float, td: str):
    """Seed a LakeTable with the first half of the bench change log;
    return (table, remaining-events DataFrame, sampled keys, lsn bounds)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from astro_data_pipeline_spark.cdc import apply as A
    from astro_data_pipeline_spark.cdc.runner import CdcRunner, read_event_log
    from astro_data_pipeline_spark.lakehouse import LakeTable
    from bench import cdc_fixture_dir

    meta = cdc_fixture_dir(sf)
    events = read_event_log(spark, meta["v1_path"], meta["v2_path"])
    lo, hi = events._adps_lsn_bounds
    mid = (lo + hi) // 2
    seed_events = events.filter(F.col("lsn") <= mid)
    rest_events = events.filter(F.col("lsn") > mid)
    table = LakeTable.create(
        spark,
        os.path.join(td, "lake"),
        T.StructType(A.BASE_TABLE_FIELDS),
        A.KEY_COLS,
        n_buckets=64,
    )
    CdcRunner(spark, table, run_id="seed", mode="mor").replay(seed_events, n_batches=2)
    table.compact()
    keys = [
        (r["repo"], r["path"])
        for r in table.read().select("repo", "path").limit(400).collect()
    ]
    return table, rest_events, keys, (lo, hi)


def _reader_loop(spark, table, keys, lsn_bounds, deadline: float, user_id: int,
                 out_times: list, out_errs: list,
                 local_lookups: bool = False) -> None:
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    # 4 FAIR pools — pools are fair-shared against each other AND against
    # the writer's pool, so a long scan in one pool can't starve the rest
    sc.setLocalProperty("spark.scheduler.pool", f"readers-{user_id % 4}")
    rng = random.Random(1000 + user_id)
    lo, hi = lsn_bounds
    while time.time() < deadline:
        op = rng.choices(OP_NAMES, weights=OP_WEIGHTS)[0]
        t0 = time.perf_counter()
        try:
            if op == "point_lookup":
                repo, path = rng.choice(keys)
                if local_lookups:
                    # Spark-job-free path: driver-side bucket hash +
                    # manifest prune + pyarrow read — the point-query
                    # latency is the data, not the job scheduler
                    table.read_key_local({"repo": repo, "path": path})
                else:
                    table.read_key({"repo": repo, "path": path}).collect()
            elif op == "range_scan":
                a = rng.randint(lo, hi)
                b = min(hi, a + (hi - lo) // 20)
                table.read().filter(
                    (F.col("last_lsn") >= a) & (F.col("last_lsn") <= b)
                ).groupBy("lang").count().collect()
            elif op == "recent_rows":
                # mirror the reference's `discovery_date > X ORDER BY …
                # LIMIT 50`: the recency predicate prunes row groups via
                # parquet stats before the top-k
                cut = hi - (hi - lo) // 10
                table.read().filter(F.col("last_lsn") >= cut).orderBy(
                    F.desc("last_lsn")
                ).limit(50).collect()
            else:  # health_check
                spark.range(1).count()
            out_times.append((op, (time.perf_counter() - t0) * 1000.0))
        except Exception as e:  # noqa: BLE001 — an op failure is DATA here
            out_errs.append((op, f"{type(e).__name__}: {e}"))
        time.sleep(rng.uniform(0.02, 0.1))


def _writer_loop(spark, table, rest_events, deadline: float, result: dict) -> None:
    from astro_data_pipeline_spark.cdc.runner import CdcRunner

    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "writer")
    t0 = time.perf_counter()
    try:
        # compact_every=2: periodic delta fold-in is the amortized
        # background maintenance a real deployment runs — without it the
        # storm's read half pays window-function MoR resolution over an
        # ever-growing delta pile (compaction never deletes files, so
        # in-flight readers on older snapshots stay safe; only
        # expire_snapshots removes files, and the storm never calls it)
        reports = CdcRunner(
            spark, table, run_id="storm", mode="mor", compact_every=2
        ).replay(rest_events, n_batches=6)
        result["batches"] = len(reports)
        result["rows_applied"] = sum(
            sum(v for k, v in r.totals.items() if k.startswith("rows_"))
            for r in reports
        )
    except Exception as e:  # noqa: BLE001
        result["error"] = f"{type(e).__name__}: {e}"
    result["wall_s"] = round(time.perf_counter() - t0, 2)


def _storm_writer_loop(spark, table, batches, wid: int, result: dict) -> None:
    """One of N INDEPENDENT racing writers (multi-writer optimistic
    concurrency): each owns a disjoint key stripe of the change log and
    commits its batches through commit_with_retries — conflicts are
    expected and re-run, and the per-writer conflict count is reported.
    This is the shape the single-runner pipelined path can't exercise:
    uncoordinated ingest jobs racing CAS commits on one table."""
    from astro_data_pipeline_spark.cdc import apply as A

    spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"writer-{wid}")
    t0 = time.perf_counter()
    commits = conflicts = rows = 0
    try:
        schema = table.current_snapshot().schema
        for i, batch in enumerate(batches):
            upd = A.to_table_rows(A.lww_collapse(batch), schema)
            attempts = {"n": 0}

            def op(u=upd, i=i, attempts=attempts):
                attempts["n"] += 1
                return table.merge_mor(
                    u,
                    summary={
                        "batch_id": f"storm-w{wid}-b{i}",
                        "run_scope": f"storm-w{wid}",
                    },
                )

            _snap, m = table.commit_with_retries(op, attempts=30)
            commits += 1
            conflicts += attempts["n"] - 1
            rows += sum(
                v for k, v in m["totals"].items() if k.startswith("rows_")
            )
    except Exception as e:  # noqa: BLE001
        result["error"] = f"{type(e).__name__}: {e}"
    result.update(
        commits=commits,
        conflicts=conflicts,
        rows_applied=rows,
        wall_s=round(time.perf_counter() - t0, 2),
    )


def run(users: int, duration_s: float, sf: float, writers: int = 1,
        local_lookups: bool = False) -> dict:
    from astro_data_pipeline_spark.session import get_spark, scratch_tmpdir_base

    spark = get_spark(
        app_name="adps-concurrent",
        extra_conf={"spark.scheduler.mode": "FAIR"},
    )
    times: list = []
    errs: list = []
    writer_result: dict = {}
    with tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        table, rest_events, keys, lsn_bounds = _build_table(spark, sf, td)
        deadline = time.time() + duration_s
        threads = [
            threading.Thread(
                target=_reader_loop,
                args=(spark, table, keys, lsn_bounds, deadline, i, times, errs,
                      local_lookups),
                daemon=True,
            )
            for i in range(users)
        ]
        if writers <= 1:
            wthreads = [
                threading.Thread(
                    target=_writer_loop,
                    args=(spark, table, rest_events, deadline, writer_result),
                    daemon=True,
                )
            ]
        else:
            # disjoint key stripes x LSN-sliced batches per writer: the
            # racing commits CAS-serialize, but with disjoint keys the
            # final LWW state is interleaving-independent
            from pyspark.sql import functions as F

            # rest_events = events with lsn > mid (see _build_table)
            full_lo, full_hi = lsn_bounds
            lo = (full_lo + full_hi) // 2
            hi = full_hi
            n_batches = 4
            cuts = [
                lo + (hi - lo) * j // n_batches for j in range(n_batches + 1)
            ]
            stripe = F.pmod(F.xxhash64("repo", "path"), F.lit(writers))
            per_writer_results: list[dict] = [dict() for _ in range(writers)]
            wthreads = []
            for wid in range(writers):
                batches = [
                    rest_events.filter(
                        (stripe == wid)
                        & (F.col("lsn") > cuts[j])
                        & (F.col("lsn") <= cuts[j + 1])
                    )
                    for j in range(n_batches)
                ]
                wthreads.append(
                    threading.Thread(
                        target=_storm_writer_loop,
                        args=(spark, table, batches, wid, per_writer_results[wid]),
                        daemon=True,
                    )
                )
        for t in threads:
            t.start()
        for w in wthreads:
            w.start()
        for t in threads:
            t.join()
        for w in wthreads:
            w.join(timeout=max(120.0, 2 * duration_s))
        if writers > 1:
            writer_result.update(
                writers=writers,
                per_writer=per_writer_results,
                commits=sum(r.get("commits", 0) for r in per_writer_results),
                conflicts=sum(r.get("conflicts", 0) for r in per_writer_results),
                rows_applied=sum(r.get("rows_applied", 0) for r in per_writer_results),
                errors=[r["error"] for r in per_writer_results if "error" in r],
            )
        final_rows = table.read().count()
    spark.stop()

    lat = sorted(ms for _, ms in times)
    total = len(times) + len(errs)
    by_op = {
        op: sorted(ms for o, ms in times if o == op) for op in OP_NAMES
    }
    out = {
        "metric": "concurrent_mixed_workload",
        "users": users,
        "duration_s": duration_s,
        "sf": sf,
        "ops": len(times),
        "errors": len(errs),
        "success_rate_pct": round(100.0 * len(times) / total, 2) if total else 0.0,
        "band": ">95% success (db_performance_test.py:327-425)",
        "band_pass": bool(total and len(times) / total > 0.95),
        "throughput_ops_per_sec": round(len(times) / duration_s, 2),
        "avg_ms": round(statistics.mean(lat), 1) if lat else None,
        "p50_ms": round(lat[len(lat) // 2], 1) if lat else None,
        "p95_ms": round(lat[int(0.95 * len(lat))], 1) if lat else None,
        "p99_ms": round(lat[int(0.99 * len(lat))], 1) if lat else None,
        "per_op": {
            op: {
                "n": len(v),
                "p50_ms": round(v[len(v) // 2], 1) if v else None,
                "p95_ms": round(v[int(0.95 * len(v))], 1) if v else None,
            }
            for op, v in by_op.items()
        },
        "writer": writer_result,
        "final_rows": final_rows,
        "first_errors": [f"{op}: {m[:160]}" for op, m in errs[:5]],
    }
    return out


def write_md(res: dict, path: str) -> None:
    lines = [
        "# Concurrent mixed-workload bench",
        "",
        "Spark restatement of the reference's concurrent-load suite",
        "(`db_performance_test.py:327-425`: N users × T s of weighted mixed ops,",
        "success band >95%), plus a LIVE WRITER the reference's read-only storm",
        "lacks: a CDC replay merges into the same LakeTable while readers run,",
        "so reads race real merge-on-read commits. FAIR scheduler pools",
        "(4 reader pools + 1 writer pool) prevent scan-starves-lookup.",
        "",
        f"Run: {res['users']} users × {res['duration_s']} s at sf{res['sf']}, "
        f"`local[$SPARK_GRAFT_CPUS]`.",
        "",
        "| metric | value | reference band |",
        "|---|---|---|",
        f"| success rate | **{res['success_rate_pct']}%** "
        f"({res['ops']} ops, {res['errors']} errors) | >95% — "
        f"{'**PASS**' if res['band_pass'] else '**FAIL**'} |",
        f"| throughput | {res['throughput_ops_per_sec']} ops/s | n/a (reads run against 60× the rows) |",
        f"| latency avg / p50 / p95 / p99 | {res['avg_ms']} / {res['p50_ms']} / "
        f"{res['p95_ms']} / {res['p99_ms']} ms | simple <100 ms, complex <500 ms on the reference's PG tables |",
        "",
        "Per-op latency (ms):",
        "",
        "| op | share | n | p50 | p95 |",
        "|---|---|---|---|---|",
    ]
    for op, w in zip(OP_NAMES, OP_WEIGHTS):
        d = res["per_op"][op]
        lines.append(f"| {op} | {w}% | {d['n']} | {d['p50_ms']} | {d['p95_ms']} |")
    w = res["writer"]
    if "writers" in w:
        pw = " / ".join(
            f"w{i}: {r.get('commits', 0)}c+{r.get('conflicts', 0)}x in "
            f"{r.get('wall_s', '?')}s"
            for i, r in enumerate(w["per_writer"])
        )
        lines += [
            "",
            f"**Multi-writer CAS storm**: {w['writers']} independent racing "
            f"writers (disjoint key stripes), {w.get('commits', 0)} commits "
            f"ALL landed with {w.get('conflicts', 0)} conflicts transparently "
            f"re-run by `commit_with_retries` ({pw})"
            + (f" — ERRORS: {w['errors']}" if w.get("errors") else "")
            + f"; {w.get('rows_applied', 0)} rows applied, final table rows "
            f"{res['final_rows']}. The reference gets this isolation from "
            "Postgres' transactional MERGE; here it is the engine's own "
            "optimistic-commit protocol under real contention.",
            "",
        ]
    else:
        lines += [
            "",
            f"Concurrent writer: {w.get('batches', 0)} merge commits, "
            f"{w.get('rows_applied', 0)} rows applied in {w.get('wall_s', '?')} s"
            + (f" — ERROR: {w['error']}" if "error" in w else "")
            + f"; final table rows {res['final_rows']}.",
            "",
        ]
    lines += [
        "Latencies are end-to-end per op on a shared 32-thread JVM under full",
        "contention (readers + writer + merge shuffles), not an idle-system",
        "microbenchmark. Point lookups stay bucket-pruned under load — the",
        "read path scans 1/64th of the table regardless of concurrent merges.",
    ]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--users", type=int, default=16)
    ap.add_argument("--duration", type=float, default=45.0)
    ap.add_argument("--sf", type=float, default=0.01)
    ap.add_argument("--md", action="store_true", help="write BENCH/CONCURRENT.md")
    ap.add_argument(
        "--local-lookups",
        action="store_true",
        help="serve point lookups via read_key_local (no Spark job)",
    )
    ap.add_argument(
        "--writers", type=int, default=1,
        help=">1: N independent racing writers (CAS storm) instead of one runner",
    )
    args = ap.parse_args()
    res = run(args.users, args.duration, args.sf, writers=args.writers,
              local_lookups=args.local_lookups)
    res["local_lookups"] = args.local_lookups
    print(json.dumps(res))
    if args.md:
        write_md(res, os.path.join(REPO, "BENCH", "CONCURRENT.md"))


if __name__ == "__main__":
    main()
