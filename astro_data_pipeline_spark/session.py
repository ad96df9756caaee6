"""SparkSession factory tuned for this engine.

Local mode stands in for a multi-executor cluster: parallelism is the
``local[N]`` thread count (the N vs 4N scaling knob — reference analog:
EKS autoscaling 2→20 nodes, README.md:571). All scale-sensitive settings
(AQE, shuffle partitions, Arrow) are set here once so every entry point —
tests, bench, driver — runs the same engine configuration.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def _scratch_dir() -> str:
    """Spark local (shuffle/spill) dir: tmpfs if present, else /tmp."""
    explicit = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if explicit:
        return explicit
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        d = os.path.join(shm, "adps-spark-local")
        os.makedirs(d, exist_ok=True)
        return d
    return "/tmp"


def scratch_tmpdir_base() -> str | None:
    """Base dir for benchmark scratch tables (tmpfs when available) —
    returns None when only the default disk-backed tempdir exists, so
    callers can pass it straight to ``tempfile.TemporaryDirectory(dir=...)``."""
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        d = os.path.join(shm, "adps-bench-tmp")
        os.makedirs(d, exist_ok=True)
        return d
    return None


def get_spark(
    app_name: str = "astro-data-pipeline-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32;
    ``shuffle_partitions`` to ``min(2 * cpus, 64)``. ``extra_conf`` is the
    one way to override any other setting below.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = min(cpus * 2, 64)
    # SPARK_GRAFT_MASTER overrides the thread-local stand-in, e.g.
    # local-cluster[4,8,8192] for REAL separate executor JVMs (the
    # north rule's N-vs-4N *executors* shape) or spark://host:7077.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # ~cores shuffle partitions locally; AQE coalesces further at runtime.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow everywhere: pandas UDFs and createDataFrame(pandas) take the
        # vectorized path (input_hint mandate: no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 4096 rows/batch: content rows run ~KBs — smaller Arrow batches
        # bound the variable-width vector realloc/copy churn on the JVM
        # side and pandas working-set on the Python side.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Deterministic timestamps vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # v2 commit algorithm: task commits move output files directly so
        # job commit is O(1) instead of a serial driver-side rename per
        # file — the dominant *serial* cost of each partitioned write at
        # high core counts (Amdahl killer for small batches).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Scan-split size. 128MB (Spark default) is right for a real
        # cluster at 100 TB; on content-heavy logs a 128MB split decodes
        # ~0.5 GB of strings in ONE task, capping scan parallelism at
        # file_size/128MB tasks — under-using a 32-core box on the
        # sandbox-sized inputs.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # Concurrent-task throttle for memory-bandwidth-bound stages.
        # The replay's heavy stage (string decode + sort + Arrow + parquet
        # encode) saturates a single socket's memory bus at ~8 concurrent
        # tasks; beyond that, extra tasks thrash shared L3 and REDUCE
        # throughput (measured: local[32] 1.6x slower than local[8] at
        # task.cpus=1; equal at task.cpus=4). On a multi-executor cluster
        # each executor has its own bus, so the default stays 1; fat
        # single-node deployments should raise it (``extra_conf``).
        .config("spark.task.cpus", "1")
        # Shuffle/scratch on tmpfs when available: this sandbox's virtual
        # disk is shared with co-tenants whose IO bursts stall our shuffle
        # writes; a real cluster node owns its local NVMe. RAM-backed
        # local dirs make the engine's measurements reflect the engine.
        .config("spark.local.dir", _scratch_dir())
        # zstd shuffle compression: source-code content compresses ~2x
        # better than with lz4, and the replay is memory-bandwidth-bound
        # from ~8 concurrent tasks up — trading surplus CPU for shuffle
        # bytes lifted the 32-core replay 67% (306k -> 512k events/s at
        # sf1.0) while costing nothing at 8 cores. The same trade wins on
        # real clusters whenever shuffle crosses a network.
        .config("spark.io.compression.codec", "zstd")
        # Same bytes-for-CPU trade on the table files themselves: zstd
        # parquet output measured +11% replay throughput over snappy at 32
        # cores (A/B at sf1.0), and smaller base/delta files are a pure
        # win for the read path at 100 TB.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Parquet dictionary encoding is wasted work on near-unique
        # columns: the writer hashes every value into a per-chunk
        # dictionary that always overflows and falls back to PLAIN, so
        # the build is a pure extra pass over the hottest bytes.
        # Disable it per-column for the two near-unique payload columns
        # (content ~2 KB/row, content_sha256 64 B/row); repetitive
        # columns (repo, lang, op) keep their dictionaries — a big read
        # side win at 100 TB. Measured +9.3% replay throughput at sf1.0
        # local[32] (scripts/ab_replay.py dict_on vs dict_off,
        # interleaved best-of-3: 756.4k -> 826.6k events/s).
        .config("spark.hadoop.parquet.enable.dictionary#content", "false")
        .config("spark.hadoop.parquet.enable.dictionary#content_sha256", "false")
        # reclaim reliable-checkpoint files (materialize_barrier's
        # cluster mode) when their RDDs are GC'd — without it every
        # barrier accretes files in the checkpoint dir for the session's
        # lifetime
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # Arrow batches ride in direct (off-heap) buffers that are only
        # reclaimed at GC; with a big, rarely-collected heap the default
        # direct limit can push Bits.reserveMemory into its
        # System.gc()+sleep retry loop. Give it headroom.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:MaxDirectMemorySize=32g"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


@contextmanager
def step(spark: SparkSession, name: str):
    """Tag every Spark job this thread submits inside the block with
    ``adps:<name>`` (``<layer>.<step>``, e.g. ``table.mor_write``).

    A job tag, not the job description or group: those belong to the
    caller (cancellation groups, a profiler's own descriptions), and a
    tag sits beside both. Tags are per thread, so a step opened in a
    pool thread marks only that thread's jobs, and nested steps add
    their tags side by side. The tag is removed on exit only if this
    call added it. An offline event log names every job's tags in the
    ``spark.job.tags`` property of its ``SparkListenerJobStart``."""
    sc = spark.sparkContext
    tag = f"adps:{name}"
    added = tag not in sc.getJobTags()
    if added:
        sc.addJobTag(tag)
    try:
        yield
    finally:
        if added:
            sc.removeJobTag(tag)


def materialize_barrier(df, eager: bool = False):
    """Materialize a shared subplan once and truncate its lineage.

    Two strategies behind one knob (``spark.adps.checkpoint.mode``,
    runtime-settable):

    - ``local`` (default): ``localCheckpoint`` — blocks cached on
      executor disk/memory. Right for a single box: no reliable-storage
      round-trip. The caveat at cluster scale: executor loss discards
      local checkpoint blocks AND the lineage needed to recompute them,
      failing the job.
    - ``reliable``: ``checkpoint`` to the directory named by
      ``spark.adps.checkpoint.dir`` (set lazily on first use). Survives
      executor loss — the strategy a 1000-executor run wants for
      barriers feeding long downstream stages — PROVIDED the directory
      is on storage every executor can read (HDFS/S3/NFS). There is
      deliberately no scratch-dir default: node-local tmpfs would make
      "reliable" checkpoints that silently vanish with the very
      executor loss the mode exists to survive, so an unset dir raises
      instead. ``spark.cleaner.referenceTracking.cleanCheckpoints``
      (set true in get_spark) reclaims checkpoint files when their
      RDDs are garbage-collected; the directory itself is owned by the
      caller.

    Used by every shared-subplan barrier in textops (tf-idf/rarity term
    counts, LSH/IVF assignment tables, winnowing fingerprints) and the
    per-round lineage truncation in connected components.
    """
    spark = df.sparkSession
    mode = spark.conf.get("spark.adps.checkpoint.mode", "local")
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode != "reliable":
        raise ValueError(
            f"spark.adps.checkpoint.mode={mode!r}: expected 'local' or 'reliable'"
        )
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        ckdir = spark.conf.get("spark.adps.checkpoint.dir", None)
        if not ckdir:
            raise ValueError(
                "spark.adps.checkpoint.mode=reliable requires "
                "spark.adps.checkpoint.dir (or a pre-set "
                "SparkContext.setCheckpointDir) pointing at storage all "
                "executors share — a node-local default would not "
                "survive the executor loss this mode exists to survive"
            )
        sc.setCheckpointDir(ckdir)
    return df.checkpoint(eager=eager)
