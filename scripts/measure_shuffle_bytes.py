#!/usr/bin/env python
"""Measure shuffle bytes per change event for the CDC replay.

Evidence for the scaling claim (BENCH/BASELINE.md): the 8->32 plateau is
byte-bound, so the relevant engineering metric is how few bytes the
replay moves through its one content-bearing exchange. This harness runs
the replay with the UI REST API enabled and sums per-stage
shuffleWriteBytes / shuffleReadBytes across exactly the replay's jobs,
reporting bytes/event.

Usage:
    python scripts/measure_shuffle_bytes.py --sf 1.0
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _stage_totals(spark) -> dict:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/stages?status=complete"
    ) as r:
        stages = json.loads(r.read())
    return {
        "shuffle_write": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "shuffle_read": sum(s.get("shuffleReadBytes", 0) for s in stages),
        "input": sum(s.get("inputBytes", 0) for s in stages),
        "output": sum(s.get("outputBytes", 0) for s in stages),
        "n_stages": len(stages),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=1.0)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--n-batches", type=int, default=4)
    args = ap.parse_args()

    from astro_data_pipeline_spark.cdc import apply as A
    from astro_data_pipeline_spark.cdc.runner import CdcRunner, read_event_log
    from astro_data_pipeline_spark.lakehouse import LakeTable
    from astro_data_pipeline_spark.session import get_spark, scratch_tmpdir_base
    from bench import cdc_fixture_dir
    from pyspark.sql import types as T

    spark = get_spark(
        app_name="shuffle-bytes",
        cpus=args.cpus,
        extra_conf={"spark.ui.enabled": "true"},
    )
    meta = cdc_fixture_dir(args.sf)
    events = read_event_log(spark, meta["v1_path"], meta["v2_path"])

    before = _stage_totals(spark)
    with tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        table = LakeTable.create(
            spark,
            os.path.join(td, "lake"),
            T.StructType(A.BASE_TABLE_FIELDS),
            A.KEY_COLS,
            n_buckets=64,
        )
        reports = CdcRunner(spark, table, run_id="bytes", mode="mor").replay(
            events, n_batches=args.n_batches
        )
        after = _stage_totals(spark)

    n_events = sum(
        getattr(r, "totals", {}).get("rows_in", 0) or 0 for r in reports
    )
    if not n_events:
        n_events = int(meta.get("n_events", 0)) or 1
    delta = {k: after[k] - before[k] for k in before}
    out = {
        "sf": args.sf,
        "n_events": n_events,
        **{k: v for k, v in delta.items()},
        "shuffle_write_bytes_per_event": round(delta["shuffle_write"] / n_events, 1),
        "shuffle_read_bytes_per_event": round(delta["shuffle_read"] / n_events, 1),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
