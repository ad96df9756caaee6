#!/usr/bin/env python
"""Merge-key bloom filter bytes per file, before and after sizing the
adaptive candidates to the file (``BENCH/BLOOM.md``, small-file section).

For each rows-per-file size, one single-file parquet write of a table
keyed like the CDC table (``repo``, ``path``) with the engine's own
``LakeTable._write_opts`` ("after"), and again with the same options
minus the per-column candidate count ("before": parquet-mr's default of
5 candidates). Reports per file: bloom bitset bytes per key column (all
row groups), file bytes and best-of-N write seconds.

Then a lookup probe: which readers consult the bloom filters? A
many-row-group file with shuffled keys (min/max stats cannot prune),
written with and without a key bloom, is read for a present key and
for an absent one in range, by Spark (the ``read_key`` path) and by
``pq.read_table(filters=...)`` (the ``read_key_local`` path), counting
the bytes each pulls from the file.

    python scripts/bloom_sizes.py [--rows 100,2000,20000,200000] [--trials 3] [--out FILE]

Prints one JSON object; ``--out`` also writes it to FILE.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def bloom_bitsets(spark, path: str) -> tuple[dict[str, int], int]:
    """Bloom bitset bytes per column summed over the file's row groups,
    and its row-group count."""
    jvm = spark._jvm
    inf = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(path), spark._jsc.hadoopConfiguration()
    )
    rdr = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inf)
    try:
        out: dict[str, int] = {}
        blocks = rdr.getFooter().getBlocks()
        for b in range(blocks.size()):
            cols = blocks.get(b).getColumns()
            for i in range(cols.size()):
                chunk = cols.get(i)
                if chunk.getBloomFilterOffset() >= 0:
                    name = chunk.getPath().toDotString()
                    size = rdr.readBloomFilter(chunk).getBitsetSize()
                    out[name] = out.get(name, 0) + size
        return out, blocks.size()
    finally:
        rdr.close()


def write_one(df, opts: dict, out_dir: str) -> tuple[float, str]:
    shutil.rmtree(out_dir, ignore_errors=True)
    t0 = time.perf_counter()
    df.coalesce(1).write.options(**opts).parquet(out_dir)
    dt = time.perf_counter() - t0
    (name,) = [f for f in os.listdir(out_dir) if f.endswith(".parquet")]
    return dt, os.path.join(out_dir, name)


class _CountingFile(io.RawIOBase):
    def __init__(self, path: str):
        self._f = open(path, "rb")
        self.bytes_read = 0

    def readable(self):
        return True

    def seekable(self):
        return True

    def seek(self, off, whence=0):
        return self._f.seek(off, whence)

    def tell(self):
        return self._f.tell()

    def readinto(self, b):
        n = self._f.readinto(b)
        self.bytes_read += n or 0
        return n

    def close(self):
        self._f.close()
        super().close()


def _rows_scanned(df) -> int:
    """Run ``df`` and return the rows its parquet scan emitted. Spark's
    parquet reader skips whole row groups on pushed filters but never
    filters rows inside one, so this counts the surviving row groups'
    rows."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        node = leaves.next()
        if "Scan" in node.nodeName():
            return int(node.metrics().apply("numOutputRows").value())
    raise RuntimeError("no scan node in the plan")


def lookup_probe(spark, with_bloom: dict, work: str, rows: int = 200_000) -> dict:
    """What each reader pulls from a many-row-group file for a present
    and an absent key: rows Spark's scan emits, bytes pyarrow reads.
    Keys are even and shuffled, so every row group spans the whole key
    range and an odd key passes every min/max check: only a bloom filter
    can skip a row group for it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    df = spark.range(rows).select(
        (F.col("id") * 2).alias("k"), (F.col("id") * 7).alias("v")
    ).orderBy(F.rand(7))
    small_groups = {"parquet.block.size": str(128 * 1024)}
    present, absent = 2 * 12_345, 2 * 12_345 + 1
    out = {"rows": rows}
    for label, o in (("bloom", with_bloom), ("no_bloom", {})):
        _, path = write_one(df, dict(o, **small_groups), os.path.join(work, f"probe-{label}"))
        bitsets, groups = bloom_bitsets(spark, path)

        def arrow_read(key: int) -> dict:
            f = _CountingFile(path)
            src = pa.PythonFile(f, mode="r")
            try:
                n = pq.read_table(src, filters=[("k", "=", key)]).num_rows
            finally:
                src.close()
                f.close()
            return {"rows": n, "bytes_read": f.bytes_read}

        def spark_read(key: int) -> dict:
            q = spark.read.parquet(path).filter(F.col("k") == key)
            return {"rows": q.count(), "rows_scanned": _rows_scanned(q)}

        out[label] = {
            "row_groups": groups,
            "file_bytes": os.path.getsize(path),
            "k_bloom_bytes": bitsets.get("k", 0),
            "pyarrow": {"present": arrow_read(present), "absent": arrow_read(absent)},
            "spark": {"present": spark_read(present), "absent": spark_read(absent)},
        }
    return out


def _engine_opts(spark, work: str, keys: list[str], key_type) -> dict:
    """The engine's write options for a fresh table keyed on ``keys``
    (all of ``key_type``) with one long value column ``v``."""
    from pyspark.sql import types as T

    from astro_data_pipeline_spark.lakehouse import LakeTable

    schema = T.StructType(
        [T.StructField(k, key_type, False) for k in keys]
        + [T.StructField("v", T.LongType(), True)]
    )
    t = LakeTable.create(spark, os.path.join(work, "t-" + "-".join(keys)), schema, keys)
    return t._write_opts(t.current_snapshot())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", default="100,2000,20000,200000")
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import pyarrow
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from astro_data_pipeline_spark.session import get_spark

    spark = get_spark(cpus=args.cpus)
    work = tempfile.mkdtemp(prefix="bloom-sizes-")
    try:
        after = _engine_opts(spark, work, ["repo", "path"], T.StringType())
        before = {k: v for k, v in after.items() if ".candidates.number#" not in k}
        results = []
        for n in [int(x) for x in args.rows.split(",")]:
            df = spark.range(n).select(
                F.concat(F.lit("org/repo-"), (F.col("id") % 97).cast("string")).alias("repo"),
                F.concat(F.lit("src/file-"), F.col("id").cast("string"), F.lit(".py")).alias("path"),
                F.col("id").alias("v"),
            ).cache()
            df.count()
            row = {"rows": n}
            for label, opts in (("before", before), ("after", after)):
                times, path = [], None
                for _ in range(args.trials):
                    dt, path = write_one(df, opts, os.path.join(work, f"{label}-{n}"))
                    times.append(dt)
                bitsets, groups = bloom_bitsets(spark, path)
                row[label] = {
                    "bloom_bytes": sum(bitsets.values()),
                    "bloom_bytes_per_col": bitsets,
                    "row_groups": groups,
                    "file_bytes": os.path.getsize(path),
                    "write_s_best": min(times),
                    "write_s": times,
                }
            df.unpersist()
            results.append(row)
            print(json.dumps(row), file=sys.stderr)
        out = {
            "options_after": after,
            "sizes": results,
            "lookup_probe": lookup_probe(spark, _engine_opts(spark, work, ["k"], T.LongType()), work),
            "versions": {
                "spark": spark.version,
                "parquet_mr": spark._jvm.org.apache.parquet.Version.FULL_VERSION,
                "pyarrow": pyarrow.__version__,
            },
            "nproc": os.cpu_count(),
        }
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out, indent=2))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=2)


if __name__ == "__main__":
    main()
