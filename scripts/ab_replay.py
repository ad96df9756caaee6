"""A/B harness for replay variants, contention-resistant.

Alternates variants round-robin in ONE process over several rounds and
reports best-of per variant — single timings on this host swing 2-4x
with co-tenant noise, so only interleaved minima are comparable.

Usage::

    python scripts/ab_replay.py --sf 0.1 --cpus 32 --rounds 3 \
        --variant aqe_on --variant aqe_off
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

VARIANTS = {
    # conf overrides, runner kwargs
    "aqe_on": ({"spark.sql.adaptive.enabled": "true"}, {}),
    "aqe_off": ({"spark.sql.adaptive.enabled": "false"}, {}),
    "pipe1": ({}, {"pipeline_depth": 1}),
    "pipe2": ({}, {"pipeline_depth": 2}),
    "pipe3": ({}, {"pipeline_depth": 3}),
    "pipe4": ({}, {"pipeline_depth": 4}),
    # parquet output codec for delta/base files (runtime-settable,
    # unlike the shuffle codec)
    "pq_snappy": ({"spark.sql.parquet.compression.codec": "snappy"}, {}),
    "pq_zstd": ({"spark.sql.parquet.compression.codec": "zstd"}, {}),
    # scan split size (straggler-wave balance at 32 cores: 34 splits at
    # 32 MB leaves a 2-task second wave; 16 MB doubles the split count)
    "split16m": ({"spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024)}, {}),
    "split32m": ({"spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024)}, {}),
    "split64m": ({"spark.sql.files.maxPartitionBytes": str(64 * 1024 * 1024)}, {}),
    # storage bucket count (parallelism of the fused collapse stage)
    "b32": ({}, {"n_buckets": 32}),
    "b64": ({}, {"n_buckets": 64}),
    "b128": ({}, {"n_buckets": 128}),
    "b256": ({}, {"n_buckets": 256}),
    # parquet dictionary encoding on output files. `content` is
    # near-unique, so the writer's per-chunk dictionary always
    # overflows and falls back to plain — the build is wasted work on
    # the hottest column. hadoop: prefix routes to hadoopConfiguration
    # (picked up per write job via newHadoopConf). The engine default
    # (session.py) disables the dictionary per-column for content /
    # content_sha256; dict_content_on re-enables it (the per-column
    # key wins over the global one, so the global toggle alone can't
    # restore the old behaviour), dict_off disables it globally.
    "dict_content_on": (
        {
            "hadoop:parquet.enable.dictionary#content": "true",
            "hadoop:parquet.enable.dictionary#content_sha256": "true",
        },
        {},
    ),
    "dict_content_off": (
        {
            "hadoop:parquet.enable.dictionary#content": "false",
            "hadoop:parquet.enable.dictionary#content_sha256": "false",
        },
        {},
    ),
    "dict_off": ({"hadoop:parquet.enable.dictionary": "false"}, {}),
    # parquet writer format version. v2 strings use
    # DELTA_LENGTH_BYTE_ARRAY (lengths stored as a block, values
    # contiguous) instead of v1's per-value length interleaving —
    # cheaper encode and a tighter decode loop on the ~2 KB content
    # column.
    "pqv1": ({"hadoop:parquet.writer.version": "v1"}, {}),
    "pqv2": ({"hadoop:parquet.writer.version": "v2"}, {}),
    # page write checksums: a CRC32 over every page on the hottest
    # write path. Readers don't verify by default
    # (parquet.page.verify-checksum.enabled=false), so the write-side
    # CRC buys nothing inside a lakehouse whose commits are already
    # atomic.
    "crc_on": ({"hadoop:parquet.page.write-checksum.enabled": "true"}, {}),
    "crc_off": ({"hadoop:parquet.page.write-checksum.enabled": "false"}, {}),
    # zstd level of the parquet OUTPUT codec (distinct from the shuffle
    # codec level already A/B'd and rejected): level 1 cuts encode CPU
    # sharply for ~10% larger files — a storage-vs-wall trade on the
    # measured parquet-encode wall.
    "pqz1": ({"hadoop:parquet.compression.codec.zstd.level": "1"}, {}),
    "pqz3": ({"hadoop:parquet.compression.codec.zstd.level": "3"}, {}),
    # vectorized-reader batch size: each scan task materializes
    # batchSize decoded rows per column batch (~2 KB strings -> ~8 MB
    # at the 4096 default); 32 concurrent tasks hold ~256 MB of
    # decoded batches, far past shared L3. Smaller batches shrink the
    # per-task decoded working set on the measured scan-side wall.
    "crb512": ({"spark.sql.parquet.columnarReaderBatchSize": "512"}, {}),
    "crb1024": ({"spark.sql.parquet.columnarReaderBatchSize": "1024"}, {}),
    "crb4096": ({"spark.sql.parquet.columnarReaderBatchSize": "4096"}, {}),
}


def _apply_conf(spark, conf: dict) -> "callable":
    """Apply one variant's overrides and return a restore closure.

    Variants touch different key families, so a key set by one variant
    and never reset would leak into every later variant's rounds (e.g.
    dict_off's global dictionary toggle silently contaminating a
    subsequent dict_content_on measurement). Every key is restored to
    its pre-variant value (or unset) before the next variant runs.
    """
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    undo = []
    for k, val in conf.items():
        if k.startswith("hadoop:"):
            hk = k[len("hadoop:"):]
            undo.append(("h", hk, hconf.get(hk)))
            hconf.set(hk, val)
        else:
            undo.append(("s", k, spark.conf.get(k, None)))
            spark.conf.set(k, val)

    def restore() -> None:
        for kind, key, old in undo:
            if kind == "h":
                hconf.unset(key) if old is None else hconf.set(key, old)
            else:
                spark.conf.unset(key) if old is None else spark.conf.set(key, old)

    return restore


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--n-batches", type=int, default=4)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--variant", action="append", dest="variants")
    args = ap.parse_args()
    variants = args.variants or ["aqe_on", "aqe_off"]

    from astro_data_pipeline_spark.cdc import apply as A
    from astro_data_pipeline_spark.cdc.runner import CdcRunner, read_event_log
    from astro_data_pipeline_spark.lakehouse import LakeTable
    from astro_data_pipeline_spark.session import get_spark, scratch_tmpdir_base
    from pyspark.sql import types as T

    from bench import cdc_fixture_dir

    meta = cdc_fixture_dir(args.sf)
    spark = get_spark(app_name="ab-replay", cpus=args.cpus)
    events = read_event_log(spark, meta["v1_path"], meta["v2_path"])

    results: dict[str, list[float]] = {v: [] for v in variants}
    for rnd in range(args.rounds):
        for v in variants:
            conf, kwargs = VARIANTS[v]
            kwargs = dict(kwargs)
            n_buckets = kwargs.pop("n_buckets", 64)
            restore = _apply_conf(spark, conf)
            try:
                with tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
                    table = LakeTable.create(
                        spark, os.path.join(td, "lake"),
                        T.StructType(A.BASE_TABLE_FIELDS), A.KEY_COLS,
                        n_buckets=n_buckets,
                    )
                    t0 = time.time()
                    CdcRunner(
                        spark, table, run_id=f"ab{rnd}", mode="mor", **kwargs
                    ).replay(events, n_batches=args.n_batches)
                    dt = time.time() - t0
            finally:
                restore()
            results[v].append(round(dt, 3))
            print(f"round {rnd} {v}: {dt:.3f}s", file=sys.stderr)

    out = {}
    for v, times in results.items():
        best = min(times)
        out[v] = {
            "times_s": times,
            "best_s": best,
            "best_events_per_sec": round(meta["n_events"] / best, 1),
        }
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
