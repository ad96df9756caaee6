"""CDC primitives expressed over the driver's generic ``events`` table.

The engine's signature operators (LSN-ordered last-writer-wins, salted
two-stage dedup, at-least-once idempotency, batch ledger) demonstrated on
the driver-provided event stream so the DuckDB oracle can check them.
The real engine applies the same plans to the (repo, path)-keyed change
log (see ``cdc.apply`` / ``cdc.runner``).

``event_id`` plays the LSN role (strictly increasing), ``user_id`` the
key role.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import sha256_arrow
from ..registry import query
from ..sources import load_table

_LWW_ORACLE = """
SELECT user_id,
       event_id AS last_event_id,
       epoch_us(ts) AS last_ts_us,
       event_type AS last_event_type,
       round(value, 2) AS last_value,
       sha256(props) AS props_sha
FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events
) WHERE rn = 1
"""


def _present(df: DataFrame) -> DataFrame:
    """Shared output projection for the LWW variants."""
    return df.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        # testdata parquet reads as TIMESTAMP_NTZ; session TZ is pinned UTC,
        # so the cast preserves the wall-clock epoch the oracle computes
        F.unix_micros(F.col("ts").cast("timestamp")).alias("last_ts_us"),
        F.col("event_type").alias("last_event_type"),
        F.round("value", 2).alias("last_value"),
        sha256_arrow(F.col("props")).alias("props_sha"),
    )


@query("cdc_lww_current_state", oracle=_LWW_ORACLE)
def cdc_lww_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP — last-writer-wins current state per key via ``max_by``.

    Spark restatement of the reference's insert-or-update catalog upsert
    (CatalogService.java:153-174) + nearest-top-1 primitive
    (AstronomicalObjectRepository.java:217-236): one hash aggregation with
    map-side partial combine — duplicate keys collapse BEFORE the shuffle,
    which is what makes this survive hot keys at 10^10 events (a window
    variant must sort every partition's full run of a hot key)."""
    ev = load_table(spark, sf_dir, "events")
    winner = ev.groupBy("user_id").agg(
        F.max_by(
            F.struct("event_id", "ts", "event_type", "value", "props"), F.col("event_id")
        ).alias("w")
    )
    return _present(winner.select("user_id", "w.*"))


@query("cdc_lww_window_variant", oracle=_LWW_ORACLE)
def cdc_lww_window_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 row_number()=1 formulation of LWW — semantically identical to the
    agg variant (same oracle), kept for parity with the reference's
    ORDER BY ... LIMIT 1 pattern and used as the cross-check in tests."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    return _present(ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1))


@query("cdc_salted_lww", oracle=_LWW_ORACLE)
def cdc_salted_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage LWW (north_rule skew requirement).

    Stage 1 groups by (key, salt) — a hot key's events spread over
    ``n_salts`` reducers; stage 2 reduces the ≤n_salts per-salt winners.
    Correct because max_by is associative; the salt only changes physical
    placement. Reference has no analog (single-threaded per file) — this is
    the new engineering SURVEY.md §4 calls out."""
    ev = load_table(spark, sf_dir, "events")
    n_salts = 8
    salted = ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salts)))
    stage1 = salted.groupBy("user_id", "salt").agg(
        F.max_by(
            F.struct("event_id", "ts", "event_type", "value", "props"), F.col("event_id")
        ).alias("w")
    )
    stage2 = stage1.groupBy("user_id").agg(F.max_by(F.col("w"), F.col("w.event_id")).alias("w"))
    return _present(stage2.select("user_id", "w.*"))


@query(
    "cdc_idempotent_replay_dedup",
    oracle="""
    SELECT count(*) AS n_after_dedup,
           count(DISTINCT user_id) AS n_keys,
           round(sum(value), 2) AS sum_value
    FROM events
    """,
)
def cdc_idempotent_replay_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery idempotency (reference: ON CONFLICT DO
    NOTHING db_performance_test.py:170-174): the same LSN delivered twice
    must apply once. Simulated by a double-delivered union, collapsed with
    an exact groupBy on the LSN — the oracle sees the single-delivery
    stream."""
    ev = load_table(spark, sf_dir, "events")
    redelivered = ev.unionByName(ev)  # every event delivered twice
    deduped = redelivered.groupBy("event_id").agg(
        F.first("user_id").alias("user_id"), F.first("value").alias("value")
    )
    return deduped.agg(
        F.count("*").alias("n_after_dedup"),
        F.countDistinct("user_id").alias("n_keys"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# Fixture root derived from the package location (repo_root/.bench/...):
# the oracle SQL below is a static string, so the path must be decided
# once at import time — but never hard-coded to a particular sandbox.
import os as _os_mod

_E2E_DIR = _os_mod.path.join(
    _os_mod.path.dirname(_os_mod.path.dirname(_os_mod.path.dirname(
        _os_mod.path.abspath(__file__)))),
    ".bench", "e2e-fixture",
)
_E2E_PARAMS = dict(n_repos=40, n_keys=4000, n_events=20000, seed=42)

# SQL-literal-safe form: a checkout path containing a quote would
# otherwise break every static e2e oracle's read_parquet literal
_E2E_DIR_SQL = _E2E_DIR.replace("'", "''")

_EV_SQL = f"""
    SELECT * FROM read_parquet(
        ['{_E2E_DIR_SQL}/change_events_v1.parquet',
         '{_E2E_DIR_SQL}/change_events_v2.parquet'],
        union_by_name=true)
    WHERE op IN ('insert', 'update', 'delete') AND repo IS NOT NULL
      AND path IS NOT NULL AND lsn IS NOT NULL
      AND (content IS NOT NULL OR op = 'delete')
"""

_E2E_ORACLE = f"""
WITH ev AS (
{_EV_SQL}
), w AS (
    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
    FROM ev
)
SELECT repo, path, "commit", lang, lang_meta,
       sha256(content) AS content_sha256,
       lsn AS last_lsn
FROM w WHERE rn = 1 AND op <> 'delete'
"""


def _ensure_e2e_fixture() -> dict:
    """Deterministic small change log at a FIXED path so the DuckDB oracle
    (a static SQL string) can read the identical input.

    Concurrency/crash discipline: the fixture is built in a private
    sibling directory — meta.json written LAST inside it — and PUBLISHED
    with one atomic directory rename. A concurrent process (two pytest
    sessions, driver + bench) can therefore never open a half-written
    parquet segment, and a crash mid-generation leaves nothing that
    passes the validity check below."""
    import json as _json
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    from .fixtures import FIXTURE_VERSION, generate_change_log

    def _read_valid() -> dict | None:
        # meta.json alone is not proof: a cleanup can strand it pointing
        # at missing parquet, a generator change strands old-format data,
        # and a hand-edited/wrong-shape document must regenerate rather
        # than crash every e2e query — hence the broad except
        try:
            with open(_os.path.join(_E2E_DIR, "meta.json")) as f:
                meta = _json.load(f)
            if meta.get("fixture_version") == FIXTURE_VERSION and all(
                _os.path.exists(meta[k]) for k in ("v1_path", "v2_path")
            ):
                return meta
        except (OSError, ValueError, KeyError, TypeError, AttributeError):
            pass
        return None

    meta = _read_valid()
    if meta is not None:
        return meta
    tmp = _E2E_DIR + f".tmp-{_os.getpid()}-{_uuid.uuid4().hex[:6]}"
    _shutil.rmtree(tmp, ignore_errors=True)
    meta = generate_change_log(tmp, **_E2E_PARAMS)
    meta = {
        k: (v.replace(tmp, _E2E_DIR) if isinstance(v, str) else v)
        for k, v in meta.items()
    }
    with open(_os.path.join(tmp, "meta.json"), "w") as f:
        _json.dump(meta, f)
    # lock-serialized atomic publish (adopts a concurrent winner's
    # byte-equivalent fixture instead of racing it) — ONE shared
    # implementation, see fixtures.publish_fixture_dir
    from .fixtures import publish_fixture_dir

    return publish_fixture_dir(tmp, _E2E_DIR, _read_valid)


def _e2e_wal_glob() -> str:
    """The e2e fixture's WAL segment glob — ONE definition shared by the
    three streaming gate queries (a fixture rename edited in only some
    of them would silently stream zero files there)."""
    import os as _os

    meta = _ensure_e2e_fixture()
    return _os.path.join(_os.path.dirname(meta["v1_path"]), "change_events_*.parquet")


# The driver may evaluate the oracle SQL before (or without) running the
# Spark side, so the fixture must exist as soon as the registry loads.
# Failures surface as a warning (not a crash) and the queries retry.
try:
    _ensure_e2e_fixture()
except Exception as _e:  # noqa: BLE001 — import must never crash the registry
    import warnings as _warnings

    _warnings.warn(f"e2e fixture generation deferred: {_e}", stacklevel=1)


def _materialize(spark: SparkSession, out: DataFrame) -> DataFrame:
    """Persist a gate query's result OUTSIDE the scratch-table context
    manager (whose directory vanishes with it) and hand back a plain
    parquet scan over the persisted copy.

    Distributed end to end: the old implementation collected the full
    result to the driver and re-created it, which was fine for gate-sized
    outputs but made even gate plumbing the one full-result collect in
    the engine. A parquet write + schema-pinned re-read keeps rows on
    executors; the explicit schema also covers the empty-result case
    (a zero-row write leaves nothing to infer from)."""
    import atexit as _atexit
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    import uuid as _uuid

    global _GATE_SCRATCH
    if _GATE_SCRATCH is None:
        _GATE_SCRATCH = _tempfile.mkdtemp(prefix="adps-gate-results-")
        _atexit.register(_shutil.rmtree, _GATE_SCRATCH, ignore_errors=True)
    path = _os.path.join(_GATE_SCRATCH, _uuid.uuid4().hex)
    out.write.parquet(path)
    return spark.read.schema(out.schema).parquet(path)


_GATE_SCRATCH: str | None = None


def _scratch_lake(spark: SparkSession, td: str):
    import os as _os

    from pyspark.sql import types as T

    from ..lakehouse import LakeTable
    from . import apply as A

    return LakeTable.create(
        spark, _os.path.join(td, "lake"), T.StructType(A.BASE_TABLE_FIELDS),
        A.KEY_COLS, n_buckets=16,
    )


_STATE_COLS = [
    "repo", "path", "commit", "lang", "lang_meta", "content_sha256", "last_lsn",
]


@query("cdc_replay_end_to_end", oracle=_E2E_ORACLE)
def cdc_replay_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE ENGINE ITSELF under the DuckDB oracle: a full micro-batch replay
    — validation/quarantine, pipelined bucket-fused salted LWW collapse,
    Arrow sha256, merge-on-read apply, atomic exactly-once commits, final
    compaction — over a deterministic 20k-event log with duplicate
    deliveries, out-of-order chunks, delete→reinsert races, and a
    mid-stream schema-evolution boundary. The oracle replays the same
    parquet segments in SQL (validity filter → LSN row_number → delete
    drop → sha256). Every other cdc_* query checks a primitive; this one
    checks the assembled system (SURVEY.md §3.1 restated end to end).

    ``sf_dir`` is unused: the log lives at a fixed path so the static
    oracle SQL reads the identical input.
    """
    import tempfile as _tempfile

    from ..session import scratch_tmpdir_base
    from .runner import CdcRunner, read_event_log

    meta = _ensure_e2e_fixture()
    events = read_event_log(spark, meta["v1_path"], meta["v2_path"])
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        table = _scratch_lake(spark, td)
        CdcRunner(spark, table, run_id="e2e", mode="mor").replay(events, n_batches=4)
        table.compact()
        return _materialize(spark, table.read().select(*_STATE_COLS))


@query("cdc_streaming_replay_end_to_end", oracle=_E2E_ORACLE)
def cdc_streaming_replay_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING ingest path under the same DuckDB oracle: a
    Structured Streaming file-source tail over the WAL segments
    (Trigger.AvailableNow, maxFilesPerTrigger=1 → one epoch per sealed
    segment) drains through ``foreachBatch`` into the identical
    exactly-once apply the batch loop uses, and must converge to the
    identical final state (SURVEY.md §2.11: one semantics, two triggers).
    Epoch-id batch identity closes the foreachBatch at-least-once gap.
    """
    import os as _os
    import tempfile as _tempfile

    from ..session import scratch_tmpdir_base
    from ..streaming.replay import stream_replay_available_now

    glob = _e2e_wal_glob()
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        table = _scratch_lake(spark, td)
        stream_replay_available_now(
            spark, glob, table, _os.path.join(td, "ckpt"), run_id="e2e-stream",
        )
        return _materialize(spark, table.read().select(*_STATE_COLS))


_WINDOWED_ORACLE = f"""
    SELECT epoch_ms(time_bucket(INTERVAL '1 minute', ts)) AS window_start_ms,
           op, count(*) AS n_events
    FROM (
        SELECT * FROM read_parquet(
            ['{_E2E_DIR_SQL}/change_events_v1.parquet',
             '{_E2E_DIR_SQL}/change_events_v2.parquet'],
            union_by_name=true)
    )
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
"""


@query("cdc_streaming_windowed_op_mix", oracle=_WINDOWED_ORACLE)
def cdc_streaming_windowed_op_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time WINDOWED aggregation on the streaming path, under the
    DuckDB oracle (SURVEY.md §2.11 late-data/watermark row): the WAL tail
    drains through ``stream_windowed_op_counts`` (tumbling 1-minute
    windows + 2-minute watermark — the reference's scheduled op-mix
    quality SQL, data_quality_monitoring.py:123-142, as a push-based
    stream). Complete output mode makes the drained result equal to the
    batch aggregate, which is what the SQL oracle states; the
    append-mode semantics this operator exists for — state eviction at
    the watermark, late-row merge inside it — are pinned separately in
    tests/test_streaming.py::test_stream_windowed_op_counts_with_watermark.
    """
    import os as _os
    import uuid as _uuid

    from ..streaming.replay import event_log_stream, stream_windowed_op_counts

    glob = _e2e_wal_glob()
    stream = event_log_stream(spark, glob).filter(F.col("ts").isNotNull())
    agg = stream_windowed_op_counts(stream, window="1 minute", watermark="2 minutes")
    name = "op_mix_gate_" + _uuid.uuid4().hex[:12]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        # awaitTermination INSIDE the try: a stream that fails mid-epoch
        # must still drop the memory-sink view (which holds its
        # complete-mode rows in driver memory for the session lifetime)
        q.awaitTermination()
        # Epoch-millis, not raw TIMESTAMP, so both engines hash the same
        # representation (the repo-wide oracle convention).
        out = spark.table(name).select(
            F.unix_millis(F.col("window_start").cast("timestamp")).alias(
                "window_start_ms"
            ),
            "op",
            "n_events",
        )
        return _materialize(spark, out)
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


@query("cdc_streaming_stateful_changelog", oracle=_E2E_ORACLE)
def cdc_streaming_stateful_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM STATEFUL operator under the full DuckDB oracle
    (SURVEY.md §2.11 state store): the WAL tail drains through the
    ``applyInPandasWithState`` keyed LWW state machine
    (streaming/stateful.py — per-key (last_lsn, alive, sha) carried in
    Spark's checkpointed state store across micro-batches, tombstones
    retained), and the changelog's last emission per key, alive keys
    only, must equal the batch replay's final state byte-for-byte. The
    same validation predicate the batch apply uses runs as a stateless
    pre-filter, so both paths see the identical event stream."""
    import os as _os
    import tempfile as _tempfile

    from ..session import scratch_tmpdir_base
    from ..streaming.replay import event_log_stream
    from ..streaming.stateful import stateful_current_state_changelog
    from .apply import valid_predicate

    glob = _e2e_wal_glob()
    stream = event_log_stream(spark, glob, max_files_per_trigger=1).filter(
        valid_predicate()
    )
    changelog = stateful_current_state_changelog(stream)
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        name = "stateful_gate_" + _os.path.basename(td).replace("-", "_")
        q = (
            changelog.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", _os.path.join(td, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            emitted = spark.table(name)
            # last_tie breaks same-LSN emissions (a malformed conflict
            # split across micro-batches emits two rows at one lsn)
            w = Window.partitionBy("repo", "path").orderBy(
                F.desc("last_lsn"), F.desc("last_tie")
            )
            final = (
                emitted.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .filter(F.col("alive"))
                .select(
                    "repo", "path", "commit", "lang", "lang_meta",
                    "content_sha256", "last_lsn",
                )
            )
            return _materialize(spark, final)
        finally:
            # cleanup must survive a failed plan/materialize: the memory
            # sink holds every update-mode emission in driver memory
            q.stop()
            spark.catalog.dropTempView(name)


@query("cdc_resume_from_checkpoint", oracle=_E2E_ORACLE)
def cdc_resume_from_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once RESUME under the DuckDB oracle (north rule: 'resumable
    from checkpoint'): the replay is killed mid-run after 2 of 4 batches
    commit, then a brand-new runner (a restarted job) replays the same log
    — it must recognize the 2 durably committed batch manifests in the
    snapshot chain, skip them, apply only the remainder, and converge to
    the byte-identical final state the single uninterrupted replay
    produces (same oracle as ``cdc_replay_end_to_end``). In-plan asserts
    pin the skip behavior: a silent re-apply would double-apply events and
    break the hash match. Reference analog: Airflow task retry over the
    staging→catalog ingest (batch_processing_dag.py retries + the
    processing_jobs ledger)."""
    import tempfile as _tempfile

    from ..session import scratch_tmpdir_base
    from .runner import CdcRunner, KilledError, read_event_log

    meta = _ensure_e2e_fixture()
    events = read_event_log(spark, meta["v1_path"], meta["v2_path"])
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        table = _scratch_lake(spark, td)
        killed = False
        try:
            CdcRunner(spark, table, run_id="e2e-resume", mode="mor").replay(
                events, n_batches=4, fail_after=2
            )
        except KilledError:
            killed = True
        # real raises, not asserts: re-applying a batch is idempotent, so
        # the oracle hash CANNOT catch a broken skip — these checks are
        # the gate's entire resume evidence and must survive python -O
        if not killed:
            raise RuntimeError("kill switch did not fire")
        if len(table.committed_batch_ids()) != 2:
            raise RuntimeError(
                f"expected 2 committed batches, got {len(table.committed_batch_ids())}"
            )
        reports = CdcRunner(spark, table, run_id="e2e-resume", mode="mor").replay(
            events, n_batches=4
        )
        statuses = sorted(r.status for r in reports)
        if statuses != ["applied", "applied", "skipped", "skipped"]:
            raise RuntimeError(f"resume did not skip the committed prefix: {statuses}")
        table.compact()
        return _materialize(spark, table.read().select(*_STATE_COLS))


@query(
    "cdc_schema_evolution_audit",
    oracle=f"""
    WITH state AS ({_E2E_ORACLE})
    SELECT lang,
           count(*) AS n_rows,
           count(lang_meta) AS n_post_evolution,
           count(*) - count(lang_meta) AS n_pre_evolution
    FROM state GROUP BY lang
    """,
)
def cdc_schema_evolution_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution surfaced as a driver-checked result: the
    change log grows a ``lang_meta`` column mid-stream (fixture evolution
    boundary); the engine promotes it with a metadata-only ``add-columns``
    commit and every pre-evolution winner reads back null while every
    post-evolution winner carries its value. The audit groups the final
    replayed state by lang and counts both populations — wrong null
    backfill, a dropped column, or a wrongly-rewritten old file all break
    the hash match. Reference analog: the V2 migration adding nullable
    metadata columns over live tables (V2_2__Add_Workflow_Versioning_
    Support.sql) without rewriting existing rows."""
    import tempfile as _tempfile

    from ..session import scratch_tmpdir_base
    from .runner import CdcRunner, read_event_log

    meta = _ensure_e2e_fixture()
    events = read_event_log(spark, meta["v1_path"], meta["v2_path"])
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        table = _scratch_lake(spark, td)
        CdcRunner(spark, table, run_id="e2e-evo", mode="mor").replay(events, n_batches=4)
        audit = (
            table.read()
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_rows"),
                F.count("lang_meta").alias("n_post_evolution"),
                (F.count("*") - F.count("lang_meta")).alias("n_pre_evolution"),
            )
        )
        return _materialize(spark, audit)


@query(
    "cdc_type_widening",
    oracle="""
    WITH p1 AS (
        SELECT event_id,
               CAST(CAST(user_id AS INTEGER) AS BIGINT) AS hits,
               CAST(CAST(value AS FLOAT) AS DOUBLE) AS score
        FROM events WHERE event_id % 2 = 0
    ), p2 AS (
        SELECT event_id,
               CAST(user_id AS BIGINT) + 5000000000 AS hits,
               CAST(value AS DOUBLE) AS score
        FROM events WHERE event_id % 2 = 1
    ), upd AS (
        SELECT event_id,
               CAST(user_id AS BIGINT) + 6000000000 AS hits,
               CAST(value AS DOUBLE) * 2 AS score
        FROM events
        WHERE event_id % 2 = 0 AND event_id % 10 = 0 AND event_id % 26 != 0
    )
    SELECT event_id, hits, score FROM (
        SELECT * FROM p1 WHERE event_id % 10 != 0 AND event_id % 26 != 0
        UNION ALL SELECT * FROM upd
        UNION ALL SELECT * FROM p2
    )
    """,
)
def cdc_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-widening schema evolution end to end (Iceberg v3 type
    promotion / Delta type widening analog; the capacity-growth sibling
    of the reference's additive V2 migrations): phase 1 lands narrow
    int32/float rows via copy-on-write MERGE, ``widen_columns`` promotes
    hits→bigint and score→double as a METADATA-ONLY commit (asserted: no
    file rewritten, the parquet footers stay physically narrow), and
    phase 2 merges values only the wide types can hold (> int32 max)
    through the merge-on-read path — so the final read resolves
    physically-narrow base files against physically-wide delta files
    under one wide schema. The oracle replays the same three-phase LWW
    outcome in SQL; any widening fault (a rewrite, a lost upcast, a
    mis-bucketed post-widen key, a delete applied to the wrong
    generation) breaks the row/hash match."""
    import tempfile as _tempfile

    from pyspark.sql import types as _T

    from ..lakehouse import LakeTable
    from ..session import scratch_tmpdir_base

    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        import os as _os

        schema = _T.StructType(
            [
                _T.StructField("event_id", _T.LongType(), False),
                _T.StructField("hits", _T.IntegerType(), True),
                _T.StructField("score", _T.FloatType(), True),
            ]
        )
        table = LakeTable.create(
            spark, _os.path.join(td, "lake"), schema, ["event_id"], n_buckets=16
        )
        p1 = ev.filter(eid % 2 == 0).select(
            eid.alias("event_id"),
            F.col("user_id").cast("int").alias("hits"),
            F.col("value").cast("float").alias("score"),
            F.lit("insert").alias("op"),
        )
        snap_before, _ = table.merge(p1)

        table.widen_columns({"hits": _T.LongType(), "score": _T.DoubleType()})
        widened = table.current_snapshot()
        if widened.files != snap_before.files or widened.delta_files != snap_before.delta_files:
            raise RuntimeError("widen_columns rewrote data files; must be metadata-only")
        # footer proof: phase-1 files are still PHYSICALLY int32/float —
        # the wide read is the reader upcasting, not a rewrite
        one_file = _os.path.join(table.root, next(iter(snap_before.files.values()))[0])
        footer = dict(spark.read.parquet(one_file).dtypes)
        if footer["hits"] != "int" or footer["score"] != "float":
            raise RuntimeError(f"phase-1 files not narrow on disk: {footer}")

        big = F.lit(5_000_000_000)
        inserts = ev.filter(eid % 2 == 1).select(
            eid.alias("event_id"),
            (F.col("user_id") + big).alias("hits"),
            F.col("value").alias("score"),
            F.lit("insert").alias("op"),
        )
        updates = ev.filter((eid % 2 == 0) & (eid % 10 == 0) & (eid % 26 != 0)).select(
            eid.alias("event_id"),
            (F.col("user_id") + F.lit(6_000_000_000)).alias("hits"),
            (F.col("value") * 2).alias("score"),
            F.lit("update").alias("op"),
        )
        deletes = ev.filter((eid % 2 == 0) & (eid % 26 == 0)).select(
            eid.alias("event_id"),
            F.lit(None).cast("long").alias("hits"),
            F.lit(None).cast("double").alias("score"),
            F.lit("delete").alias("op"),
        )
        table.merge_mor(inserts.unionByName(updates).unionByName(deletes))
        return _materialize(spark, table.read().select("event_id", "hits", "score"))


@query(
    "cdc_column_drop",
    oracle="""
    SELECT event_id,
           CAST(user_id AS BIGINT) AS user_id,
           CASE WHEN event_id % 5 = 0 THEN value * 3 ELSE value END AS value
    FROM events
    """,
)
def cdc_column_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-drop schema evolution end to end: land full-width rows,
    ``drop_columns`` removes ``event_type`` as a METADATA-ONLY commit
    (asserted in-query: same files, column gone from reads, re-adding the
    name refused — pre-drop files still carry physical values that would
    resurrect under Spark's read-by-name scans), then a post-drop
    copy-on-write MERGE updates a slice of keys with the narrower batch
    shape. The oracle computes the same final state over the full table;
    a drop that rewrote files, leaked the column, or broke post-drop
    merges diverges."""
    import tempfile as _tempfile

    from pyspark.sql import types as _T

    from ..lakehouse import LakeTable
    from ..session import scratch_tmpdir_base

    ev = load_table(spark, sf_dir, "events")
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        import os as _os

        schema = _T.StructType(
            [
                _T.StructField("event_id", _T.LongType(), False),
                _T.StructField("user_id", _T.LongType(), True),
                _T.StructField("event_type", _T.StringType(), True),
                _T.StructField("value", _T.DoubleType(), True),
            ]
        )
        table = LakeTable.create(
            spark, _os.path.join(td, "lake"), schema, ["event_id"], n_buckets=16
        )
        table.merge(
            ev.select("event_id", "user_id", "event_type", "value", F.lit("insert").alias("op"))
        )
        pre = table.current_snapshot()
        table.drop_columns(["event_type"])
        post = table.current_snapshot()
        if post.files != pre.files or post.delta_files != pre.delta_files:
            raise RuntimeError("drop_columns rewrote data files; must be metadata-only")
        if "event_type" in table.read().columns:
            raise RuntimeError("dropped column still visible to reads")
        try:
            table.add_columns([_T.StructField("event_type", _T.StringType(), True)])
        except ValueError as ex:
            if "resurrect" not in str(ex):  # only the poisoned-name refusal
                raise
        else:
            raise RuntimeError("re-adding a dropped column must be refused")
        updates = ev.filter(F.col("event_id") % 5 == 0).select(
            "event_id",
            "user_id",
            (F.col("value") * 3).alias("value"),
            F.lit("update").alias("op"),
        )
        table.merge(updates)
        return _materialize(spark, table.read().select("event_id", "user_id", "value"))


@query(
    "cdc_restore_rollback",
    oracle="""
    SELECT event_id,
           CAST(user_id AS BIGINT) AS user_id,
           CASE WHEN event_id % 7 = 0 THEN value * 2 ELSE value END AS value
    FROM events
    """,
)
def cdc_restore_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE end to end — the undo for a bad batch (Delta ``RESTORE
    TABLE`` / Iceberg rollback analog; reference: re-running a failed job
    from its last good processing_jobs checkpoint,
    ProcessingJobService.java:142-164, restated at table granularity):
    land a good batch, corrupt a slice with a bad merge-on-read batch,
    ``restore`` to the good snapshot (asserted in-query: metadata-only —
    the target's files re-referenced verbatim, zero rewrites; the bad
    batch's id REMOVED from the exactly-once ledger so a WAL rewind would
    re-apply it; ``changes(good → restore)`` is the empty diff), then
    land the corrected batch on top. The oracle computes the final state
    as if the bad batch never happened — any restore fault (a leaked bad
    row, a lost good row, a mis-parented chain breaking the post-restore
    merge's LWW sequence) diverges."""
    import tempfile as _tempfile

    from pyspark.sql import types as _T

    from ..lakehouse import LakeTable
    from ..session import scratch_tmpdir_base

    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        import os as _os

        schema = _T.StructType(
            [
                _T.StructField("event_id", _T.LongType(), False),
                _T.StructField("user_id", _T.LongType(), True),
                _T.StructField("value", _T.DoubleType(), True),
            ]
        )
        table = LakeTable.create(
            spark, _os.path.join(td, "lake"), schema, ["event_id"], n_buckets=16
        )
        table.merge(
            ev.select("event_id", "user_id", "value", F.lit("insert").alias("op")),
            summary={"batch_id": "good-1"},
        )
        good = table.current_snapshot()

        bad_rows = ev.filter(eid % 3 == 0).select(
            "event_id",
            "user_id",
            (F.col("value") * -999).alias("value"),
            F.lit("update").alias("op"),
        )
        bad_dels = ev.filter(eid % 11 == 0).select(
            "event_id",
            F.lit(None).cast("long").alias("user_id"),
            F.lit(None).cast("double").alias("value"),
            F.lit("delete").alias("op"),
        )
        # LWW-collapse the two slices (keys where %3 and %11 overlap):
        # deletes outrank the corrupt updates, matching one bad upstream
        # batch's net effect
        bad = bad_dels.unionByName(bad_rows.join(bad_dels, "event_id", "left_anti"))
        table.merge_mor(bad, summary={"batch_id": "bad-2"})

        restored = table.restore(good.snapshot_id)
        if restored.files != good.files or restored.delta_files != good.delta_files:
            raise RuntimeError("restore rewrote data files; must be metadata-only")
        ledger = table.committed_batch_ids()
        if "bad-2" in ledger or "good-1" not in ledger:
            raise RuntimeError(f"restore did not rewind the batch ledger: {ledger}")
        if table.changes(good.snapshot_id, restored.snapshot_id).count() != 0:
            raise RuntimeError("state(restore) must equal state(target): empty diff")

        corrected = ev.filter(eid % 7 == 0).select(
            "event_id",
            "user_id",
            (F.col("value") * 2).alias("value"),
            F.lit("update").alias("op"),
        )
        table.merge_mor(corrected, summary={"batch_id": "fix-3"})
        return _materialize(spark, table.read().select("event_id", "user_id", "value"))


@query(
    "cdc_stats_pruned_scan",
    oracle="""
    SELECT event_id,
           CAST(user_id AS BIGINT) AS user_id,
           value
    FROM events
    WHERE user_id BETWEEN 30 AND 60
    """,
)
def cdc_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats range scan end to end (Iceberg manifest pruning /
    Delta data skipping + OPTIMIZE ZORDER analog; reference: the
    {type}_{YYYYMM} partition-pruned hot-table queries,
    V2_1__Add_Processing_Context_Tables.sql:48-69, generalized to any
    clustered column): land events via copy-on-write MERGE (per-file
    min/max collected from parquet footers into the snapshot manifest),
    ``cluster_by`` rewrites each bucket sorted by ``user_id`` into
    bounded files — restoring the value locality hash bucketing destroys
    — then ``read_between`` prunes non-overlapping base files at
    PLANNING time (asserted in-query via ``prune_report``: files were
    actually skipped) and applies the exact predicate on top. The oracle
    is the plain WHERE BETWEEN over the full table; any pruning fault
    (a skipped file that held a matching row, a wrong bound encoding)
    loses rows and breaks the hash match."""
    import tempfile as _tempfile

    from pyspark.sql import types as _T

    from ..lakehouse import LakeTable
    from ..session import scratch_tmpdir_base

    ev = load_table(spark, sf_dir, "events")
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        import os as _os

        schema = _T.StructType(
            [
                _T.StructField("event_id", _T.LongType(), False),
                _T.StructField("user_id", _T.LongType(), True),
                _T.StructField("value", _T.DoubleType(), True),
            ]
        )
        table = LakeTable.create(
            spark, _os.path.join(td, "lake"), schema, ["event_id"], n_buckets=16
        )
        table.merge(
            ev.select("event_id", "user_id", "value", F.lit("insert").alias("op"))
        )
        n = ev.count()
        table.cluster_by("user_id", target_rows_per_file=max(200, n // 128))
        rep = table.prune_report("user_id", 30, 60)
        if rep["base_files"] > 16 and rep["pruned"] == 0:
            raise RuntimeError(f"clustered scan pruned nothing: {rep}")
        return _materialize(
            spark, table.read_between("user_id", 30, 60).select("event_id", "user_id", "value")
        )


@query(
    "dedup_incremental_index",
    oracle="""
    -- the canonical id must be derived RELATIONALLY (min doc_id per
    -- sha), not assumed equal to the probe's own id: a probe doc that
    -- is itself an exact duplicate inside the corpus (doc 4677 == doc
    -- 1882 at sf0.1) dedups to its EARLIER twin — the engine got this
    -- right and the round-3 oracle was wrong on exactly those rows
    WITH canon AS (
        SELECT sha256(text) AS sha, min(doc_id) AS canonical
        FROM documents GROUP BY 1
    )
    SELECT CAST(d.doc_id + 1000000000 AS BIGINT) AS new_doc_id,
           c.canonical AS dup_of
    FROM documents d JOIN canon c ON sha256(d.text) = c.sha
    WHERE d.doc_id % 7 = 1
    """,
)
def dedup_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus dedup: a sha256-keyed dedup index maintained
    as a lake table by the CDC merge machinery, so a new ingest batch
    dedups against the WHOLE corpus in O(batch) — never an O(corpus)
    recompute (the difference between a nightly full-corpus job and a
    per-batch step at 10^10 documents; reference analog: the
    staging-to-catalog content-checksum idempotency checks,
    ProcessingJobService.java retry-preserving ingest).

    Build: one pass over the corpus computes JVM-side sha256 and MERGEs
    (sha -> canonical doc_id) into a bucketed lake table. Probe: the new
    batch (exact copies of corpus docs with doc_id % 7 == 1 under new
    ids, plus genuinely novel edited docs with % 7 == 3 as the
    must-miss control) computes its shas and equi-joins the index —
    hash-bucketed storage means the join shuffles only on the sha key,
    and the index side is already clustered by it. Maintain: the novel
    docs' shas MERGE into the index (O(batch) again), and an in-query
    re-probe asserts the batch now fully matches — the idempotent
    at-least-once-ingest property. The oracle derives the expected
    match set relationally; an index fault (wrong bucket, lost key,
    stale canonical) loses or invents pairs and breaks the hash
    match."""
    import tempfile as _tempfile

    from pyspark.sql import types as _T

    from ..functions.hashing import sha256_col
    from ..lakehouse import LakeTable
    from ..session import scratch_tmpdir_base

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        import os as _os

        schema = _T.StructType(
            [
                _T.StructField("sha", _T.StringType(), False),
                _T.StructField("canonical_doc_id", _T.LongType(), True),
            ]
        )
        index = LakeTable.create(
            spark, _os.path.join(td, "dedup_index"), schema, ["sha"], n_buckets=16
        )
        corpus = docs.withColumn("sha", sha256_col(F.col("text"), use_native=True))
        index.merge(
            corpus.groupBy("sha")
            .agg(F.min("doc_id").alias("canonical_doc_id"))
            .withColumn("op", F.lit("insert"))
        )

        big = F.lit(1_000_000_000)
        batch = (
            docs.filter(F.col("doc_id") % 7 == 1)
            .select((F.col("doc_id") + big).alias("doc_id"), "text")
            .unionByName(
                docs.filter(F.col("doc_id") % 7 == 3).select(
                    (F.col("doc_id") + F.lit(2_000_000_000)).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" [rev2]")).alias("text"),
                )
            )
            .withColumn("sha", sha256_col(F.col("text"), use_native=True))
        )
        idx = index.read()
        matches = batch.join(idx, "sha", "inner").select(
            F.col("doc_id").alias("new_doc_id"),
            F.col("canonical_doc_id").alias("dup_of"),
        )
        out = _materialize(spark, matches)

        # maintain the index with the batch's NOVEL shas only (O(batch));
        # known shas keep their canonical id — inserting the duplicate's
        # id would rotate the canonical under LWW. Then idempotency must
        # hold: a re-probe matches ALL
        index.merge_mor(
            batch.join(idx, "sha", "left_anti")
            .groupBy("sha")
            .agg(F.min("doc_id").alias("canonical_doc_id"))
            .withColumn("op", F.lit("insert"))
        )
        n_batch = batch.count()
        n_rematch = batch.join(index.read(), "sha", "left_semi").count()
        if n_rematch != n_batch:
            raise RuntimeError(
                f"index maintenance lost shas: {n_rematch}/{n_batch} re-matched"
            )
        return out


@query(
    "cdc_wap_publish",
    oracle="""
    SELECT event_id,
           CAST(user_id AS BIGINT) AS user_id,
           CASE WHEN event_id % 2 = 1 AND event_id % 12 = 5
                THEN value * 10 ELSE value END AS val
    FROM events
    WHERE event_id % 2 = 0 OR event_id % 3 = 0 OR event_id % 12 = 5
    """,
)
def cdc_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish end to end (Iceberg branch + fast-forward
    analog; reference: staging-schema ingest promoted only after the
    quality-verification DAG passes, data_quality_monitoring.py): main
    lands a baseline batch; a STAGING BRANCH (metadata-only ref, shared
    snapshots/files) receives two candidate batches — one that fails the
    audit (negative values) and, after a branch-scoped ``restore`` undoes
    it, one that passes — and only then does ``fast_forward`` publish the
    branch head to main in one CAS. In-query asserts: main's state is
    byte-unchanged while the bad batch sits on the branch (isolation),
    the rejected rows never reach main (the restore + re-audit path),
    and publish moves the ref WITHOUT creating snapshots. The oracle is
    the final main state in SQL; a publish that leaked the bad batch or
    lost the good one breaks the row/hash match."""
    import tempfile as _tempfile

    from pyspark.sql import types as _T

    from ..lakehouse import LakeTable
    from ..session import scratch_tmpdir_base

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").cast("long").alias("user_id"), "value"
    )
    eid = F.col("event_id")
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        import os as _os

        schema = _T.StructType(
            [
                _T.StructField("event_id", _T.LongType(), False),
                _T.StructField("user_id", _T.LongType(), True),
                _T.StructField("val", _T.DoubleType(), True),
            ]
        )
        table = LakeTable.create(
            spark, _os.path.join(td, "lake"), schema, ["event_id"], n_buckets=16
        )
        ins = lambda df: df.select(  # noqa: E731
            "event_id", "user_id", F.col("value").alias("val"),
            F.lit("insert").alias("op"),
        )
        table.merge(ins(ev.filter(eid % 2 == 0)))  # baseline on main
        main_before = table.current_snapshot().snapshot_id

        staging = table.create_branch("staging")
        good_anchor = staging.current_snapshot().snapshot_id
        # candidate 1: corrupt batch (audit will reject)
        staging.merge_mor(
            ev.filter(eid % 12 == 5).select(
                "event_id", "user_id", (F.col("value") * -1).alias("val"),
                F.lit("insert").alias("op"),
            ),
            summary={"batch_id": "bad"},
        )
        n_bad = staging.read().filter(F.col("val") < 0).count()
        if n_bad == 0:
            raise RuntimeError("audit fixture produced no rejectable rows")
        if table.current_snapshot().snapshot_id != main_before:
            raise RuntimeError("branch write moved main: isolation broken")
        staging.restore(good_anchor)  # audit failed: undo on the branch
        # candidate 2: corrected batches (audit passes)
        staging.merge_mor(
            ins(ev.filter((eid % 2 == 1) & (eid % 3 == 0))),
            summary={"batch_id": "good-1"},
        )
        staging.merge_mor(
            ev.filter((eid % 2 == 1) & (eid % 12 == 5)).select(
                "event_id", "user_id", (F.col("value") * 10).alias("val"),
                F.lit("update").alias("op"),
            ),
            summary={"batch_id": "good-2"},
        )
        if staging.read().filter(F.col("val") < 0).count() != 0:
            raise RuntimeError("audit still failing after restore")
        n_snaps_before = len(
            [f for f in _os.listdir(_os.path.join(td, "lake", "metadata"))
             if f.startswith("snapshot-")]
        )
        table.fast_forward("staging")  # PUBLISH
        n_snaps_after = len(
            [f for f in _os.listdir(_os.path.join(td, "lake", "metadata"))
             if f.startswith("snapshot-")]
        )
        if n_snaps_after != n_snaps_before:
            raise RuntimeError("publish created snapshots; must be a ref move")
        if table.refs()["main"] != table.refs()["staging"]:
            raise RuntimeError("publish did not advance main to the branch head")
        return _materialize(spark, table.read().select("event_id", "user_id", "val"))


@query(
    "cdc_zorder_scan",
    oracle="""
    SELECT 'u' AS dim, event_id,
           CAST(user_id AS BIGINT) AS user_id, value
    FROM events WHERE user_id BETWEEN 30 AND 60
    UNION ALL
    SELECT 'v' AS dim, event_id,
           CAST(user_id AS BIGINT) AS user_id, value
    FROM events WHERE value BETWEEN 20.0 AND 40.0
    """,
)
def cdc_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimension Z-order clustering end to end (Delta OPTIMIZE
    ZORDER analog; reference: composite-index multi-predicate catalog
    queries, DatabaseOptimizationConfig.java + V1 schema indexes): land
    events via copy-on-write MERGE, one ``cluster_by([user_id, value])``
    rewrite Morton-interleaves quantile-normalized dimension indices and
    sorts each bucket's files by the z-value, then range scans on BOTH
    dimensions prune files at planning time (asserted in-query via
    ``prune_report`` on each dimension — z-order's whole point over a
    1-D sort, which leaves the second dimension unprunable). The oracle
    replays both range scans over the raw table; a z-curve fault that
    breaks value locality silently would still pass it, which is why the
    pruning assertions are in-query — but one that loses or duplicates
    rows breaks the hash match."""
    import tempfile as _tempfile

    from pyspark.sql import types as _T

    from ..lakehouse import LakeTable
    from ..session import scratch_tmpdir_base

    ev = load_table(spark, sf_dir, "events")
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        import os as _os

        schema = _T.StructType(
            [
                _T.StructField("event_id", _T.LongType(), False),
                _T.StructField("user_id", _T.LongType(), True),
                _T.StructField("value", _T.DoubleType(), True),
            ]
        )
        table = LakeTable.create(
            spark, _os.path.join(td, "lake"), schema, ["event_id"], n_buckets=8
        )
        table.merge(
            ev.select(
                "event_id",
                F.col("user_id").cast("long").alias("user_id"),
                "value",
                F.lit("insert").alias("op"),
            )
        )
        n = ev.count()
        table.cluster_by(
            ["user_id", "value"], target_rows_per_file=max(200, n // 128)
        )
        rep_u = table.prune_report("user_id", 30, 60)
        rep_v = table.prune_report("value", 20.0, 40.0)
        if rep_u["base_files"] > 16 and (rep_u["pruned"] == 0 or rep_v["pruned"] == 0):
            raise RuntimeError(
                f"z-order pruned nothing on one dimension: u={rep_u} v={rep_v}"
            )
        u = table.read_between("user_id", 30, 60).select(
            F.lit("u").alias("dim"), "event_id", "user_id", "value"
        )
        v = table.read_between("value", 20.0, 40.0).select(
            F.lit("v").alias("dim"), "event_id", "user_id", "value"
        )
        return _materialize(spark, u.unionByName(v))


@query(
    "cdc_concurrent_writers",
    oracle="""
    SELECT event_id,
           CAST(user_id AS BIGINT) AS user_id,
           CASE WHEN event_id % 6 = event_id % 2 AND event_id % 14 != event_id % 2
                THEN value * 3 ELSE value END AS val
    FROM events
    WHERE event_id % 14 != event_id % 2
    """,
)
def cdc_concurrent_writers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-writer optimistic concurrency end to end (Iceberg
    optimistic-commit analog; reference: concurrent ingest workers
    sharing one Postgres catalog whose transactional MERGE provides the
    isolation — DatabaseOptimizationConfig.java HikariCP pools,
    db_performance_test.py:327-375 concurrent personas): two writer
    threads race merge-on-read commits into ONE lake table through
    ``commit_with_retries`` — each handles a disjoint key half (writer p
    takes event_id%2==p) and lands an insert batch then an
    update+delete batch. The version-hint CAS serializes the four
    commits in some interleaving-dependent ORDER, but because keys are
    disjoint and each writer's own commits stay thread-ordered, the
    final LWW state is interleaving-INDEPENDENT — which is exactly what
    the fixed SQL oracle asserts. In-query: all four batch ids must
    appear in the snapshot chain (a silently dropped commit — the
    last-writer-wins hint-rename failure mode this protocol replaces —
    breaks it) and the chain must hold exactly create+4 commits."""
    import tempfile as _tempfile
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import types as _T

    from ..lakehouse import LakeTable
    from ..session import scratch_tmpdir_base

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").cast("long").alias("user_id"), "value"
    )
    eid = F.col("event_id")
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        import os as _os
        import threading as _threading

        schema = _T.StructType(
            [
                _T.StructField("event_id", _T.LongType(), False),
                _T.StructField("user_id", _T.LongType(), True),
                _T.StructField("val", _T.DoubleType(), True),
            ]
        )
        table = LakeTable.create(
            spark, _os.path.join(td, "lake"), schema, ["event_id"], n_buckets=16
        )
        barrier = _threading.Barrier(2)

        def writer(p: int) -> None:
            half = ev.filter(eid % 2 == p)
            inserts = half.select(
                "event_id", "user_id", F.col("value").alias("val"),
                F.lit("insert").alias("op"),
            )
            updates = half.filter((eid % 6 == p) & (eid % 14 != p)).select(
                "event_id", "user_id", (F.col("value") * 3).alias("val"),
                F.lit("update").alias("op"),
            )
            deletes = half.filter(eid % 14 == p).select(
                "event_id", "user_id", F.lit(None).cast("double").alias("val"),
                F.lit("delete").alias("op"),
            )
            barrier.wait()
            table.commit_with_retries(
                lambda: table.merge_mor(inserts, summary={"batch_id": f"w{p}-b1"}),
                attempts=20,
            )
            table.commit_with_retries(
                lambda: table.merge_mor(
                    updates.unionByName(deletes), summary={"batch_id": f"w{p}-b2"}
                ),
                attempts=20,
            )

        with ThreadPoolExecutor(2) as ex:
            for f in [ex.submit(writer, 0), ex.submit(writer, 1)]:
                f.result()  # re-raise writer failures

        tags = table.committed_batch_ids()
        if tags != {"w0-b1", "w0-b2", "w1-b1", "w1-b2"}:
            raise RuntimeError(f"dropped commit under concurrency: {sorted(tags)}")
        if len(chain := table.snapshot_chain()) != 5:
            raise RuntimeError(f"expected create+4 commits, chain={len(chain)}")
        return _materialize(
            spark, table.read().select("event_id", "user_id", "val")
        )


@query(
    "cdc_batch_ledger_stats",
    oracle="""
    SELECT CAST(floor(event_id / 2000) AS BIGINT) AS batch_id,
           min(event_id) AS lsn_lo,
           max(event_id) AS lsn_hi,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_keys
    FROM events
    GROUP BY 1
    """,
)
def cdc_batch_ledger_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 LSN-range micro-batch slicing + per-batch ledger row (reference:
    BATCH_SIZE=100 chunking batch_processing_dag.py:126-135 and the
    processing_jobs status ledger ProcessingJob.java:27-233)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("event_id") / 2000).cast("long").alias("batch_id"))
        .agg(
            F.min("event_id").alias("lsn_lo"),
            F.max("event_id").alias("lsn_hi"),
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_keys"),
        )
    )


@query(
    "cdc_workflow_activation",
    oracle="""
    WITH act AS (
        SELECT user_id AS workflow_id,
               event_id % 5 AS version_id,
               event_id AS seq
        FROM events
    ), dedup AS (
        -- idempotent re-activation: activating the already-active version
        -- is a no-op, so consecutive repeats collapse
        SELECT * FROM (
            SELECT workflow_id, version_id, seq,
                   lag(version_id) OVER w AS prev_version
            FROM act
            WINDOW w AS (PARTITION BY workflow_id ORDER BY seq)
        ) WHERE prev_version IS NULL OR prev_version <> version_id
    )
    SELECT workflow_id, version_id,
           seq AS activated_seq,
           lead(seq) OVER w AS deactivated_seq,
           (lead(seq) OVER w IS NULL) AS is_active
    FROM dedup
    WINDOW w AS (PARTITION BY workflow_id ORDER BY seq)
    """,
)
def cdc_workflow_activation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Workflow activation/rollback replay (reference: single-active-
    version registry, V2_2__Add_Workflow_Versioning_Support.sql:232-301
    ``activate_workflow_version`` with deactivate_others=true, plus the
    activation-history log :285-297).

    The activation log replays as one plan: consecutive re-activations of
    the already-active version collapse (the idempotence the reference
    gets from UPDATE-where-is_active), each surviving activation closes
    its predecessor (``lead`` = the atomic deactivate-others flip), and
    exactly one open interval per workflow remains active — a *rollback*
    is just a later activation of an older version_id, which this
    handles with no special case. Both windows share one partitioning →
    single shuffle. ``user_id`` plays workflow identity, ``event_id % 5``
    the version label, ``event_id`` the activation LSN."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        F.col("user_id").alias("workflow_id"),
        (F.col("event_id") % 5).alias("version_id"),
        F.col("event_id").alias("seq"),
    )
    w = Window.partitionBy("workflow_id").orderBy("seq")
    dedup = (
        act.withColumn("prev_version", F.lag("version_id").over(w))
        .filter(
            F.col("prev_version").isNull()
            | (F.col("prev_version") != F.col("version_id"))
        )
        .drop("prev_version")
    )
    return dedup.select(
        "workflow_id",
        "version_id",
        F.col("seq").alias("activated_seq"),
        F.lead("seq").over(w).alias("deactivated_seq"),
        F.lead("seq").over(w).isNull().alias("is_active"),
    )


# Deterministic mid-log cut for the incremental-read query: the fixture's
# schema-evolution boundary LSN (frozen params seed=42 → always 120010;
# asserted against meta.json at query time). The oracle SQL interpolates
# the literal; the Spark side replays phase 1 (lsn <= cut), snapshots,
# then phase 2, so the diff straddles the evolution boundary.
_INCR_CUT_LSN = 120010

_INCR_ORACLE = f"""
WITH ev AS (
{_EV_SQL}
), wall AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
        FROM ev
    ) WHERE rn = 1
), wcut AS (
    SELECT repo, path, (op <> 'delete') AS alive FROM (
        SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
        FROM ev WHERE lsn <= {_INCR_CUT_LSN}
    ) WHERE rn = 1
)
SELECT w.repo, w.path,
       CASE WHEN w.op = 'delete' THEN 'delete'
            WHEN coalesce(c.alive, FALSE) THEN 'update'
            ELSE 'insert' END AS change_type,
       CASE WHEN w.op = 'delete' THEN NULL ELSE w.lsn END AS last_lsn,
       CASE WHEN w.op = 'delete' THEN NULL ELSE sha256(w.content) END AS content_sha256,
       CASE WHEN w.op = 'delete' THEN NULL ELSE w.lang END AS lang,
       CASE WHEN w.op = 'delete' THEN NULL ELSE w.lang_meta END AS lang_meta
FROM wall w LEFT JOIN wcut c USING (repo, path)
WHERE w.lsn > {_INCR_CUT_LSN}
  AND NOT (w.op = 'delete' AND NOT coalesce(c.alive, FALSE))
"""


@query("cdc_incremental_changes", oracle=_INCR_ORACLE)
def cdc_incremental_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental read between two snapshots (Iceberg incremental-scan /
    CDC-changelog analog) under the DuckDB oracle: replay phase 1 of the
    log (lsn <= evolution boundary), remember the snapshot, replay phase 2,
    then ask the TABLE — not the log — what changed: ``LakeTable.changes``
    scans only the delta files the phase-2 commits appended (O(changed
    rows)), LWW-nets them per key, and classifies insert/update/delete
    against a bucket-pruned probe of the old snapshot. The oracle computes
    the same diff from the raw events (state at cut vs final state). The
    cut IS the schema-evolution boundary, so every upsert in the diff must
    carry the promoted ``lang_meta`` column — an incremental reader
    downstream sees the evolved schema. Deletes of keys that never existed
    at the cut net out to nothing on both sides."""
    import tempfile as _tempfile

    from ..session import scratch_tmpdir_base
    from .runner import CdcRunner, read_event_log

    meta = _ensure_e2e_fixture()
    assert int(meta["evolution_lsn"]) == _INCR_CUT_LSN, (
        f"fixture evolution boundary moved: {meta['evolution_lsn']}"
    )
    events = read_event_log(spark, meta["v1_path"], meta["v2_path"])
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        table = _scratch_lake(spark, td)
        runner = CdcRunner(spark, table, run_id="e2e-incr", mode="mor")
        runner.replay(events.filter(F.col("lsn") <= _INCR_CUT_LSN), n_batches=2)
        s_from = table.current_snapshot().snapshot_id
        runner.replay(events.filter(F.col("lsn") > _INCR_CUT_LSN), n_batches=2)
        out = table.changes(s_from).select(
            "repo", "path", "change_type", "last_lsn",
            "content_sha256", "lang", "lang_meta",
        )
        return _materialize(spark, out)


_MV_ORACLE = f"""
WITH ev AS (
{_EV_SQL}
), w AS (
    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
    FROM ev
), fin AS (
    SELECT repo, lsn FROM w WHERE rn = 1 AND op <> 'delete'
)
SELECT repo,
       count(*) AS n_files,
       CAST(sum(lsn) AS BIGINT) AS sum_lsn,
       avg(lsn) AS avg_lsn,
       max(lsn) AS max_lsn,
       min(lsn) AS min_lsn
FROM fin GROUP BY repo
"""


@query("cdc_incremental_matview", oracle=_MV_ORACLE)
def cdc_incremental_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate materialized view maintained by the change
    feed (the canonical CDC downstream; reference analog: the rollups
    data_quality_monitoring.py:214-340 recomputes from scratch per DAG
    run). Replay phase 1 of the WAL, seed a per-repo aggregate view
    (count / sum / avg / max / min over last_lsn) with its one full
    pass, then replay phase 2 in two LSN-ordered slices with an
    O(changed rows) ``refresh()`` after each: signed pre/post-image
    contributions from ``changes(..., with_preimage=True)`` merge into
    the view's own lake table under the exactly-once ledger
    (batch_id = the refreshed snapshot range), with dirty-extreme
    rescan only where a delete retracted a stored max/min. In-query
    assert: the incrementally-maintained view is value-identical to a
    full recompute from the base head — then the DuckDB oracle computes
    the same aggregate straight from the raw events. At 10^10 events
    the full recompute is the thing you can no longer afford; the
    refresh cost here is O(phase-2 rows), independent of table size."""
    import tempfile as _tempfile

    from ..lakehouse.matview import AggSpec, IncrementalAggView
    from ..session import scratch_tmpdir_base
    from .runner import CdcRunner, read_event_log

    meta = _ensure_e2e_fixture()
    cut = int(meta["evolution_lsn"])
    events = read_event_log(spark, meta["v1_path"], meta["v2_path"])
    # phase-2 sub-split must respect LSN order (cross-batch LWW rides on
    # ordered delivery, like the real binlog tail)
    max_lsn = events.agg(F.max("lsn")).collect()[0][0]
    cut2 = (cut + int(max_lsn)) // 2
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        import os as _os

        table = _scratch_lake(spark, td)
        runner = CdcRunner(spark, table, run_id="e2e-mv", mode="mor")
        runner.replay(events.filter(F.col("lsn") <= cut), n_batches=2)
        view = IncrementalAggView.create(
            spark,
            _os.path.join(td, "mv"),
            table,
            ["repo"],
            [
                AggSpec("count", None, "n_files"),
                AggSpec("sum", "last_lsn", "sum_lsn"),
                AggSpec("avg", "last_lsn", "avg_lsn"),
                AggSpec("max", "last_lsn", "max_lsn"),
                AggSpec("min", "last_lsn", "min_lsn"),
            ],
            n_buckets=8,
        )
        for lo, hi in ((cut, cut2), (cut2, None)):
            batch = events.filter(F.col("lsn") > lo)
            if hi is not None:
                batch = batch.filter(F.col("lsn") <= hi)
            runner.replay(batch, n_batches=2)
            stats = view.refresh()
            if stats.get("noop"):
                raise RuntimeError(f"refresh ({lo}, {hi}] applied nothing")
        inc, full = view.read(), view.full_compute()
        drift = inc.exceptAll(full).count() + full.exceptAll(inc).count()
        if drift:
            raise RuntimeError(
                f"incremental view drifted from full recompute: {drift} rows"
            )
        return _materialize(spark, inc)


@query(
    "cdc_conditional_merge",
    oracle="""
    WITH base AS (
        SELECT event_id, CAST(user_id AS BIGINT) AS user_id,
               event_type AS etype, value AS val
        FROM events WHERE event_id % 3 <> 2
    ), src AS (
        SELECT event_id, CAST(user_id AS BIGINT) AS user_id,
               event_type, value * 2 AS sval
        FROM events WHERE event_id % 2 = 0
    )
    SELECT b.event_id, b.user_id, b.etype,
           CASE WHEN s.event_id IS NOT NULL THEN b.val + s.sval
                ELSE b.val END AS val
    FROM base b LEFT JOIN src s USING (event_id)
    -- NOT coalesce(<cond>, FALSE), not 'sval >= 1.0': the engine's
    -- clause guard treats a NULL condition as not-matching (Delta MERGE
    -- semantics), so a NULL sval row falls through to the update and is
    -- KEPT - the oracle must mirror that three-valued contract
    WHERE s.event_id IS NULL OR NOT coalesce(s.sval < 1.0, FALSE)
    UNION ALL
    SELECT s.event_id, s.user_id, s.event_type AS etype, s.sval AS val
    FROM src s LEFT JOIN base b USING (event_id)
    WHERE b.event_id IS NULL AND s.event_id % 5 = 0
    """,
)
def cdc_conditional_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative MERGE INTO with conditions and SET expressions over
    both sides (Delta/Iceberg MERGE surface the op-column replay path
    can't express): WHEN MATCHED AND s.sval < 1.0 THEN DELETE; WHEN
    MATCHED THEN UPDATE SET val = t.val + s.sval (accumulate-on-merge,
    etype untouched — a partial-column patch); WHEN NOT MATCHED AND
    event_id % 5 = 0 THEN INSERT. One bucket-pruned clause join routes
    every source row (first matching clause wins), then the routed rows
    flow through the engine's ordinary CoW merge — conformance, atomic
    commit, ledger, all inherited. The DuckDB oracle restates the three
    clauses as relational algebra over the same parquet."""
    import tempfile as _tempfile

    from pyspark.sql import types as _T

    from ..lakehouse import LakeTable
    from ..session import scratch_tmpdir_base

    ev = load_table(spark, sf_dir, "events")
    eid = F.col("event_id")
    base = ev.filter(eid % 3 != 2).select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("etype"),
        F.col("value").alias("val"),
    )
    src = ev.filter(eid % 2 == 0).select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        (F.col("value") * 2).alias("sval"),
    )
    schema = _T.StructType(
        [
            _T.StructField("event_id", _T.LongType(), False),
            _T.StructField("user_id", _T.LongType(), True),
            _T.StructField("etype", _T.StringType(), True),
            _T.StructField("val", _T.DoubleType(), True),
        ]
    )
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        import os as _os

        table = LakeTable.create(
            spark, _os.path.join(td, "lake"), schema, ["event_id"], n_buckets=16
        )
        table.merge(base.withColumn("op", F.lit("insert")))
        (
            table.merge_builder(src)
            .when_matched_delete(condition=F.col("s.sval") < 1.0)
            .when_matched_update(
                set={"val": F.col("t.val") + F.col("s.sval")}
            )
            .when_not_matched_insert(
                values={
                    "etype": F.col("s.event_type"),
                    "val": F.col("s.sval"),
                },
                condition=F.pmod("s.event_id", F.lit(5)) == 0,
            )
            .execute(mode="cow")
        )
        return _materialize(
            spark, table.read().select("event_id", "user_id", "etype", "val")
        )


@query(
    "cdc_row_level_ops",
    oracle="""
    WITH base AS (
        SELECT event_id, CAST(user_id AS BIGINT) AS user_id,
               event_type AS etype, value AS val
        FROM events WHERE event_id % 4 <> 3
    ), upd AS (
        SELECT event_id, user_id, etype,
               CASE WHEN etype = 'click' THEN val * 2 ELSE val END AS val
        FROM base
    )
    SELECT event_id, user_id, etype, val
    FROM upd
    WHERE NOT coalesce(val < 0.5, FALSE)
    """,
)
def cdc_row_level_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE WHERE then DELETE WHERE (Delta/Iceberg statement
    analogs) over a merge-on-read table: ``update_where`` doubles the
    click rows' values (SET expression over the row, predicate pushed to
    the scan), ``delete_where`` tombstones the sub-threshold rows in an
    O(matches) append — no bucket is rewritten by either statement
    (asserted in-query: the base file map is byte-identical before and
    after), which is the selective-mutation shape that survives 100 TB.
    The DuckDB oracle restates both statements relationally, including
    the three-valued NULL-predicate contract (a NULL value matches
    neither statement)."""
    import tempfile as _tempfile

    from pyspark.sql import types as _T

    from ..lakehouse import LakeTable
    from ..session import scratch_tmpdir_base

    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 4 != 3).select(
        "event_id",
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("etype"),
        F.col("value").alias("val"),
    )
    schema = _T.StructType(
        [
            _T.StructField("event_id", _T.LongType(), False),
            _T.StructField("user_id", _T.LongType(), True),
            _T.StructField("etype", _T.StringType(), True),
            _T.StructField("val", _T.DoubleType(), True),
        ]
    )
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        import os as _os

        table = LakeTable.create(
            spark, _os.path.join(td, "lake"), schema, ["event_id"], n_buckets=16
        )
        table.merge(base.withColumn("op", F.lit("insert")))
        files_before = dict(table.current_snapshot().files)
        table.update_where(
            {"val": F.col("val") * 2}, F.col("etype") == "click", mode="mor"
        )
        table.delete_where(F.col("val") < 0.5, mode="mor")
        if dict(table.current_snapshot().files) != files_before:
            raise RuntimeError(
                "row-level MoR statements rewrote base files; "
                "they must only append deltas"
            )
        return _materialize(
            spark, table.read().select("event_id", "user_id", "etype", "val")
        )


_REPL_ORACLE = f"""
WITH ev AS (
{_EV_SQL}
), w AS (
    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
    FROM ev
)
SELECT repo, path, sha256(content) AS content_sha256, lsn AS last_lsn
FROM w WHERE rn = 1 AND op <> 'delete'
"""


@query("cdc_replication_sync", oracle=_REPL_ORACLE)
def cdc_replication_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logical table-to-table replication over the change feed (Postgres
    logical replication / Debezium re-publication restated on lake
    machinery): replay phase 1 into the SOURCE table, seed a
    column-pruned replica (sha + lsn only — the content payload never
    crosses, by the changelog's column projection) with its own bucket
    count, then replay phase 2 in two LSN-ordered slices with a
    ``sync()`` after each. Each sync applies the source's NET diff as
    one atomic MERGE under the replica's exactly-once ledger
    (batch_id = the synced snapshot range), so a flip-flopped key
    crosses once and a retried sync no-ops. In-query assert: the
    replica equals the source's projection exactly. The DuckDB oracle
    computes the same final state from the raw events."""
    import tempfile as _tempfile

    from ..lakehouse.replicate import Replicator
    from ..session import scratch_tmpdir_base
    from .runner import CdcRunner, read_event_log

    meta = _ensure_e2e_fixture()
    cut = int(meta["evolution_lsn"])
    events = read_event_log(spark, meta["v1_path"], meta["v2_path"])
    max_lsn = int(events.agg(F.max("lsn")).collect()[0][0])
    cut2 = (cut + max_lsn) // 2
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        import os as _os

        table = _scratch_lake(spark, td)
        runner = CdcRunner(spark, table, run_id="e2e-repl", mode="mor")
        runner.replay(events.filter(F.col("lsn") <= cut), n_batches=2)
        repl = Replicator.create_replica(
            table,
            _os.path.join(td, "replica"),
            columns=["content_sha256", "last_lsn"],
            n_buckets=8,
        )
        for lo, hi in ((cut, cut2), (cut2, None)):
            batch = events.filter(F.col("lsn") > lo)
            if hi is not None:
                batch = batch.filter(F.col("lsn") <= hi)
            runner.replay(batch, n_batches=2)
            stats = repl.sync()
            if stats.get("noop"):
                raise RuntimeError(f"sync ({lo}, {hi}] applied nothing")
        out = repl.replica.read().select(
            "repo", "path", "content_sha256", "last_lsn"
        )
        src = table.read().select("repo", "path", "content_sha256", "last_lsn")
        drift = out.exceptAll(src).count() + src.exceptAll(out).count()
        if drift:
            raise RuntimeError(f"replica drifted from source: {drift} rows")
        return _materialize(spark, out)


_CASCADE_ORACLE = f"""
WITH ev AS (
{_EV_SQL}
), w AS (
    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
    FROM ev
), fin AS (
    SELECT repo, lsn FROM w WHERE rn = 1 AND op <> 'delete'
)
SELECT repo,
       count(*) AS n_files,
       CAST(sum(lsn) AS BIGINT) AS sum_lsn
FROM fin GROUP BY repo
"""


@query("cdc_cascaded_view_replica", oracle=_CASCADE_ORACLE)
def cdc_cascaded_view_replica(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full downstream cascade under one oracle: WAL replay → base
    table → incremental matview (MoR write mode, so the VIEW keeps its
    own row-level changelog) → logical REPLICA OF THE VIEW — three
    exactly-once hops, each maintained in O(its own changed rows), each
    under its own ledger. Phase 1 seeds all three; phase 2 replays in
    two LSN-ordered slices with refresh+sync after each. In-query
    asserts: the replica is byte-equal to the view's storage state, and
    a second sync with no new view commits is a ledger no-op. The
    DuckDB oracle computes the per-repo aggregate straight from the raw
    events — a drift ANYWHERE in the three-hop chain (changelog
    classification, retraction algebra, replication net diff) breaks
    the value hash. This is the composition the engine exists for:
    the CDC machinery consuming its own output."""
    import tempfile as _tempfile

    from ..lakehouse.matview import AggSpec, IncrementalAggView
    from ..lakehouse.replicate import Replicator
    from ..session import scratch_tmpdir_base
    from .runner import CdcRunner, read_event_log

    meta = _ensure_e2e_fixture()
    cut = int(meta["evolution_lsn"])
    events = read_event_log(spark, meta["v1_path"], meta["v2_path"])
    max_lsn = int(events.agg(F.max("lsn")).collect()[0][0])
    cut2 = (cut + max_lsn) // 2
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        import os as _os

        table = _scratch_lake(spark, td)
        runner = CdcRunner(spark, table, run_id="e2e-cascade", mode="mor")
        runner.replay(events.filter(F.col("lsn") <= cut), n_batches=2)
        view = IncrementalAggView.create(
            spark,
            _os.path.join(td, "mv"),
            table,
            ["repo"],
            [
                AggSpec("count", None, "n_files"),
                AggSpec("sum", "last_lsn", "sum_lsn"),
            ],
            n_buckets=8,
            write_mode="mor",
        )
        repl = Replicator.create_replica(view.table, _os.path.join(td, "vrep"))
        for lo, hi in ((cut, cut2), (cut2, None)):
            batch = events.filter(F.col("lsn") > lo)
            if hi is not None:
                batch = batch.filter(F.col("lsn") <= hi)
            runner.replay(batch, n_batches=2)
            if view.refresh().get("noop"):
                raise RuntimeError(f"view refresh ({lo}, {hi}] applied nothing")
            if repl.sync().get("noop"):
                raise RuntimeError(f"replica sync ({lo}, {hi}] applied nothing")
        vt, rt = view.table.read(), repl.replica.read()
        drift = vt.exceptAll(rt).count() + rt.exceptAll(vt).count()
        if drift:
            raise RuntimeError(f"replica drifted from view: {drift} rows")
        if not repl.sync().get("noop"):
            raise RuntimeError("sync with no new view commits must no-op")
        out = rt.select(
            "repo",
            "n_files",
            F.when(F.col("sum_lsn__n") > 0, F.col("sum_lsn__s")).alias("sum_lsn"),
        )
        return _materialize(spark, out)


@query("cdc_changelog_stream_source", oracle=_E2E_ORACLE)
def cdc_changelog_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake table as a ``readStream`` SOURCE (Spark 4 Python
    DataSource API — Delta ``readChangeFeed`` analog): replay the full
    WAL into a MoR table, then stream its ENTIRE commit history back out
    through ``format("laketable_changes")`` (offsets = snapshot ids,
    checkpointed to a parquet sink) and reconstruct the final state from
    the streamed changelog alone — one LWW collapse by (key, max commit),
    tombstone winners dropped. The DuckDB oracle is the same final-state
    oracle the ingest path answers to: if the changelog stream dropped,
    duplicated, or mis-stamped a single row anywhere in the history, the
    reconstruction diverges and the value hash breaks. This closes the
    CDC loop in the literal sense: the engine's own commits are a
    binlog another pipeline can tail."""
    import tempfile as _tempfile

    from ..session import scratch_tmpdir_base
    from ..streaming.source import register_changelog_source
    from .runner import CdcRunner, read_event_log

    meta = _ensure_e2e_fixture()
    events = read_event_log(spark, meta["v1_path"], meta["v2_path"])
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        import os as _os

        table = _scratch_lake(spark, td)
        CdcRunner(spark, table, run_id="e2e-src", mode="mor").replay(
            events, n_batches=4
        )
        fmt = register_changelog_source(spark)
        out_dir = _os.path.join(td, "changelog")
        q = (
            spark.readStream.format(fmt)
            .option("root", table.root)
            .option("start_snapshot", "0")
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", _os.path.join(td, "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        ch = spark.read.parquet(out_dir)
        w = F.max_by(
            F.struct(*[c for c in _STATE_COLS if c not in ("repo", "path")], "_is_delete"),
            F.col("_change_commit"),
        )
        state = (
            ch.groupBy("repo", "path")
            .agg(w.alias("w"))
            .filter(~F.col("w._is_delete"))
            .select(
                "repo",
                "path",
                *[
                    F.col(f"w.{c}").alias(c)
                    for c in _STATE_COLS
                    if c not in ("repo", "path")
                ],
            )
        )
        return _materialize(spark, state.select(*_STATE_COLS))


_WAL_ENVELOPE_SCHEMA = (
    "key BIGINT, op STRING, ts_ms BIGINT, "
    "after STRUCT<user_id: BIGINT, event_type: STRING, value: DOUBLE, props: STRING>"
)


@query(
    "cdc_json_wal_source",
    oracle="""
    SELECT event_id,
           CASE CAST(event_id % 3 AS INTEGER)
                WHEN 0 THEN 'c' WHEN 1 THEN 'u' ELSE 'd' END AS op,
           epoch_ms(ts) AS ts_ms,
           user_id, event_type, value, props
    FROM events
    WHERE event_id % 97 <> 0
    """,
)
def cdc_json_wal_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S10 JSON binlog-tail source: parse Debezium-style change
    envelopes ``{"key","op","ts_ms","after":{...}}`` with an explicit
    schema and PERMISSIVE corrupt-record quarantine (reference analog:
    the staging-ingest JSON parse in DataIngestionService).

    The raw WAL strings are built in-plan from the events table
    (``to_json`` over a struct — deterministic, no fixture files), with
    a corrupt stripe (event_id mod 97) whose envelope is truncated mid
    object. ``from_json`` yields NULL for that stripe, the quarantine
    filter drops it, and the oracle selects the complement directly from
    parquet — so the gate proves schema-on-read parsing, not the
    round-trip. All JVM codegen: the envelope parse happens scan-side on
    each executor; at 10^10 events the source is embarrassingly
    partitioned with zero shuffle."""
    events = load_table(spark, sf_dir, "events")
    op = F.element_at(
        F.array(F.lit("c"), F.lit("u"), F.lit("d")),
        F.pmod("event_id", F.lit(3)).cast("int") + 1,
    )
    envelope = F.to_json(
        F.struct(
            F.col("event_id").alias("key"),
            op.alias("op"),
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
            F.struct("user_id", "event_type", "value", "props").alias("after"),
        )
    )
    # corrupt stripe: mangle the head so Jackson rejects the record
    raw = F.when(
        F.pmod("event_id", F.lit(97)) == 0,
        F.concat(F.lit("!corrupt!"), F.col("envelope")),
    ).otherwise(F.col("envelope"))
    wal = events.select("event_id", envelope.alias("envelope")).select(
        raw.alias("raw")
    )
    # explode(array(...)) is a one-row generator barrier: the quarantine
    # filter references generator output, which PushDownPredicate cannot
    # push through, so from_json evaluates ONCE per row. A bare
    # select+filter lets Catalyst push the predicate below the
    # projection, re-inlining the whole to_json+from_json chain into the
    # Filter — every row serialized and parsed twice, and the from_json
    # Project drops out of whole-stage codegen (measured 1.77 -> 1.10 s
    # at sf0.1; same pitfall as the n-gram contamination filter, see
    # ROUND2.md "filter-below-projection re-inline").
    parsed = wal.select(
        F.explode(
            F.array(F.from_json("raw", _WAL_ENVELOPE_SCHEMA, {"mode": "PERMISSIVE"}))
        ).alias("e")
    )
    return parsed.filter(F.col("e.key").isNotNull()).select(
        F.col("e.key").alias("event_id"),
        F.col("e.op").alias("op"),
        F.col("e.ts_ms").alias("ts_ms"),
        F.col("e.after.user_id").alias("user_id"),
        F.col("e.after.event_type").alias("event_type"),
        F.col("e.after.value").alias("value"),
        F.col("e.after.props").alias("props"),
    )


from .runner import lsn_ranges as _lsn_ranges

# LSN high bound of micro-batch 2 of 4 over the e2e fixture (fixture LSNs
# are 10,20,...,n_events*10) — the deterministic snapshot boundary the
# time-travel read pins to, shared by the query and its static oracle.
_TT_CUTOFF = _lsn_ranges(10, _E2E_PARAMS["n_events"] * 10, 4)[1][1]

_TT_ORACLE = f"""
WITH ev AS (
{_EV_SQL}
), w AS (
    SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
    FROM ev WHERE lsn <= {_TT_CUTOFF}
)
SELECT repo, path, "commit", lang,
       sha256(content) AS content_sha256,
       lsn AS last_lsn
FROM w WHERE rn = 1 AND op <> 'delete'
"""


@query("cdc_time_travel_read", oracle=_TT_ORACLE)
def cdc_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 time travel under the oracle gate: replay the full 20k-event
    log, then read the table AS OF the snapshot batch 2 committed — the
    result must equal an LWW collapse of only the events with
    ``lsn <= batch-2 high bound``, proving snapshots are immutable,
    consistent cut points (later batches must not leak in). NB this gate
    pins DATA time travel only: the replay evolves the schema up front
    (read_event_log hands the unified footer schema to the whole run),
    so batch 2's snapshot already carries lang_meta — the v1-column
    projection here exists because the oracle's cut has no evolved
    values, not because the as-of schema lacks the column (as-of SCHEMA
    pinning is covered by test_schema_evolution_mid_stream, which
    replays the segments separately). Reference analog: snapshot
    retention / archive reads (S7), `IntermediateStorageService` session
    history."""
    import tempfile as _tempfile

    from ..session import scratch_tmpdir_base
    from .runner import CdcRunner, read_event_log

    meta = _ensure_e2e_fixture()
    events = read_event_log(spark, meta["v1_path"], meta["v2_path"])
    with _tempfile.TemporaryDirectory(dir=scratch_tmpdir_base()) as td:
        table = _scratch_lake(spark, td)
        reports = CdcRunner(spark, table, run_id="tt", mode="mor").replay(
            events, n_batches=4
        )
        applied = [r for r in reports if r.status == "applied"]
        (batch2,) = [r for r in applied if r.lsn_hi == _TT_CUTOFF]
        snap = table.snapshot(batch2.snapshot_id)
        cols = [c for c in _STATE_COLS if c != "lang_meta"]
        return _materialize(spark, table.read(snapshot=snap).select(*cols))
