"""Structured Streaming replay tests (SURVEY.md §2.11): the event-push
trigger path must converge to the same oracle state as the batch loop,
survive restarts without double-applying, and bound windowed-agg state
with a watermark."""

from __future__ import annotations

import pandas as pd
import pytest

from astro_data_pipeline_spark.cdc import apply as A
from astro_data_pipeline_spark.cdc.fixtures import generate_change_log, load_events_pandas
from astro_data_pipeline_spark.cdc.oracle import replay_reference
from astro_data_pipeline_spark.lakehouse import LakeTable
from astro_data_pipeline_spark.streaming import (
    event_log_stream,
    stream_replay_available_now,
    stream_windowed_op_counts,
)
from pyspark.sql import types as T

FINAL_COLS = ["repo", "path", "commit", "lang", "lang_meta", "content_sha256", "last_lsn"]


@pytest.fixture(scope="module")
def fixture_meta(tmp_path_factory):
    out = tmp_path_factory.mktemp("stream_fixtures")
    return generate_change_log(str(out), n_repos=10, n_keys=200, n_events=1500)


@pytest.fixture(scope="module")
def oracle_state(fixture_meta) -> pd.DataFrame:
    return replay_reference(load_events_pandas(fixture_meta))


def _glob(fixture_meta) -> str:
    import os

    return os.path.join(os.path.dirname(fixture_meta["v1_path"]), "change_events_*.parquet")


def _new_table(spark, tmp_path) -> LakeTable:
    return LakeTable.create(
        spark,
        str(tmp_path / "lake"),
        T.StructType(A.BASE_TABLE_FIELDS),
        key_cols=A.KEY_COLS,
        n_buckets=8,
    )


def _final_state(table: LakeTable) -> pd.DataFrame:
    pdf = table.read().toPandas()
    for c in FINAL_COLS:
        if c not in pdf.columns:
            pdf[c] = None
    pdf = pdf[FINAL_COLS].sort_values(["repo", "path"]).reset_index(drop=True)
    pdf["lang_meta"] = pdf["lang_meta"].where(pd.notna(pdf["lang_meta"]), None)
    return pdf


def test_stream_replay_matches_oracle(spark, tmp_path, fixture_meta, oracle_state):
    table = _new_table(spark, tmp_path)
    reports = stream_replay_available_now(
        spark,
        _glob(fixture_meta),
        table,
        checkpoint_dir=str(tmp_path / "ckpt"),
        run_id="stream-test",
    )
    assert [r["status"] for r in reports].count("applied") >= 2  # one per segment
    final = _final_state(table)
    expected = oracle_state[FINAL_COLS].reset_index(drop=True)
    expected = expected.assign(
        lang_meta=expected["lang_meta"].where(pd.notna(expected["lang_meta"]), None)
    )
    pd.testing.assert_frame_equal(final, expected, check_dtype=False)


def test_stream_restart_is_exactly_once(spark, tmp_path, fixture_meta, oracle_state):
    table = _new_table(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    stream_replay_available_now(spark, _glob(fixture_meta), table, ckpt, run_id="s1")
    snap_before = table.current_snapshot().snapshot_id
    # restart over the same checkpoint: no new files -> no new commits
    reports2 = stream_replay_available_now(spark, _glob(fixture_meta), table, ckpt, run_id="s2")
    assert all(r["status"] != "applied" for r in reports2)
    assert table.current_snapshot().snapshot_id == snap_before
    pd.testing.assert_frame_equal(
        _final_state(table),
        _final_state(table),  # deterministic read
        check_dtype=False,
    )


def test_stream_restart_across_type_widening(spark, tmp_path):
    """Upstream ALTER COLUMN ... TYPE while the tail is running: a file
    source pins its schema at start, so the wider segment fails the
    stream (loudly — a narrowing read, never silent truncation); the
    operator restarts with the unified wider schema and the SAME
    checkpoint. The checkpoint skips consumed files (old narrow segments
    re-read fine under the wide schema anyway — upcast), the ledger keeps
    exactly-once, and the sink auto-widens via _evolve_if_needed."""
    import os

    seg_dir = tmp_path / "wal"
    seg_dir.mkdir()
    narrow_schema = (
        "lsn long, op string, repo string, path string, content string, size_bytes int"
    )
    wide_schema = (
        "lsn long, op string, repo string, path string, content string, size_bytes long"
    )
    spark.createDataFrame(
        [(i, "insert", "r1", f"p{i}", f"c{i}", 100 + i) for i in range(5)],
        schema=narrow_schema,
    ).coalesce(1).write.parquet(str(seg_dir / "seg-000.parquet"))

    table_schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
            T.StructField("content_sha256", T.StringType(), True),
            T.StructField("last_lsn", T.LongType(), True),
            T.StructField("size_bytes", T.IntegerType(), True),
        ]
    )
    table = LakeTable.create(spark, str(tmp_path / "lake"), table_schema, A.KEY_COLS, n_buckets=4)
    glob = os.path.join(str(seg_dir), "seg-*.parquet")
    ckpt = str(tmp_path / "ckpt")
    stream_schema_v1 = spark.createDataFrame([], narrow_schema).schema
    reports = stream_replay_available_now(
        spark, glob, table, ckpt, run_id="w1", schema=stream_schema_v1
    )
    assert [r["status"] for r in reports] == ["applied"]
    assert dict(table.read().dtypes)["size_bytes"] == "int"

    # upstream widens: the next segment carries int64 size_bytes
    big = 2**40
    spark.createDataFrame(
        [(100, "update", "r1", "p0", "c0v2", big), (101, "insert", "r1", "p9", "c9", big + 9)],
        schema=wide_schema,
    ).coalesce(1).write.parquet(str(seg_dir / "seg-001.parquet"))

    # the running narrow-schema tail must FAIL on the wide segment (a
    # narrowing read), not silently truncate int64 values to int32
    # exact exception wrapper varies by Spark version (StreamingQueryException
    # wrapping SparkException); the load-bearing assert is the MESSAGE —
    # a parquet type mismatch, not a silent success
    with pytest.raises(Exception, match="(?i)parquet|data type"):
        stream_replay_available_now(
            spark, glob, table, ckpt, run_id="w1b", schema=stream_schema_v1
        )

    # restart with the unified wider schema over the SAME checkpoint
    stream_schema_v2 = spark.createDataFrame([], wide_schema).schema
    reports2 = stream_replay_available_now(
        spark, glob, table, ckpt, run_id="w2", schema=stream_schema_v2
    )
    assert any(r["status"] == "applied" for r in reports2)
    assert dict(table.read().dtypes)["size_bytes"] == "bigint"
    got = {r["path"]: r["size_bytes"] for r in table.read().collect()}
    assert got["p0"] == big and got["p9"] == big + 9 and got["p3"] == 103
    # exactly-once: restarting again applies nothing new
    snap = table.current_snapshot().snapshot_id
    reports3 = stream_replay_available_now(
        spark, glob, table, ckpt, run_id="w3", schema=stream_schema_v2
    )
    assert all(r["status"] != "applied" for r in reports3)
    assert table.current_snapshot().snapshot_id == snap


def test_stream_epoch_dedupe_closes_foreachbatch_gap(spark, tmp_path, fixture_meta):
    """Simulate 'merge committed but checkpoint lost': replaying the same
    epoch id against the table must be skipped by the manifest check. Each
    fresh applier re-reads the ledger, as a restarted stream would."""
    from astro_data_pipeline_spark.streaming.runner_bridge import StreamApplier
    from astro_data_pipeline_spark.cdc.runner import read_event_log

    table = _new_table(spark, tmp_path)
    events = read_event_log(spark, fixture_meta["v1_path"], fixture_meta["v2_path"])
    r1 = StreamApplier(table, "r", "mor")(events, 7)
    assert r1["status"] == "applied"
    r2 = StreamApplier(table, "r", "mor")(events, 7)
    assert r2["status"] == "skipped"
    assert table.current_snapshot().snapshot_id == r1["snapshot_id"]


def test_stream_windowed_op_counts_with_watermark(spark, tmp_path, fixture_meta):
    stream = event_log_stream(spark, _glob(fixture_meta), max_files_per_trigger=1)
    assert stream.isStreaming
    # fixture timestamps advance 1 ms per LSN -> the log spans ~15 s of
    # event time; 5 s windows + 1 s watermark close at least the first
    # windows by end-of-stream
    agg = stream_windowed_op_counts(stream, window="5 seconds", watermark="1 second")
    q = (
        agg.writeStream.format("memory")
        .queryName("op_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT op, SUM(n_events) AS n FROM op_counts GROUP BY op"
    ).toPandas()
    # append mode emits only watermark-closed windows; the final window
    # stays open, so totals are a lower bound over a subset of ops
    assert len(got) > 0
    assert set(got["op"]) <= {"insert", "update", "delete"}
    assert (got["n"] > 0).all()


def test_stateful_lww_changelog_converges_to_oracle(spark, tmp_path, fixture_meta, oracle_state):
    """applyInPandasWithState keyed LWW: the last changelog row per key
    must equal the batch oracle's final state (alive keys), with deleted
    keys tombstoned (alive=false)."""
    from astro_data_pipeline_spark.streaming import (
        event_log_stream,
        stateful_current_state_changelog,
    )

    stream = event_log_stream(spark, _glob(fixture_meta), max_files_per_trigger=1)
    changelog = stateful_current_state_changelog(stream)
    q = (
        changelog.writeStream.format("memory")
        .queryName("lww_changelog")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.sql("SELECT * FROM lww_changelog").toPandas()
    assert len(emitted) > 0
    # last emission per key = current state (emissions are strictly
    # LSN-increasing per key)
    # NB: groupby().last() would skip NaN per column and resurrect stale
    # payload values into tombstone rows — take whole rows instead
    last = emitted.sort_values(["last_lsn", "last_tie"]).drop_duplicates(
        subset=["repo", "path"], keep="last"
    )
    alive = (
        last[last["alive"]][["repo", "path", "commit", "lang", "lang_meta",
                             "content_sha256", "last_lsn"]]
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    alive["lang_meta"] = alive["lang_meta"].where(pd.notna(alive["lang_meta"]), None)
    want = oracle_state[FINAL_COLS].reset_index(drop=True)
    want = want.assign(lang_meta=want["lang_meta"].where(pd.notna(want["lang_meta"]), None))
    pd.testing.assert_frame_equal(alive[FINAL_COLS], want, check_dtype=False)
    # tombstones carry no payload
    dead = last[~last["alive"]]
    assert dead["content_sha256"].isna().all()


def test_streaming_progress_listener_one_row_per_epoch(spark, tmp_path, fixture_meta):
    """The StreamingQueryListener progress surface (reference analog:
    monitor_processing_jobs' 30 s poll loop,
    telescope_data_processing.py:210-293) must record exactly one
    progress row per applied epoch, with input-row counts that sum to
    the log size."""
    from astro_data_pipeline_spark.streaming.progress import recording_listener

    table = _new_table(spark, tmp_path)
    with recording_listener(spark) as rec:
        reports = stream_replay_available_now(
            spark,
            _glob(fixture_meta),
            table,
            checkpoint_dir=str(tmp_path / "ckpt"),
            run_id="progress-test",
        )
        n_epochs = len(reports)
        progress = rec.wait_for(n_epochs)
    applied = [p for p in progress if p["num_input_rows"] > 0]
    assert len(applied) == n_epochs, progress
    epochs = [p["epoch"] for p in applied]
    assert len(set(epochs)) == len(epochs)  # one row per epoch
    total_rows = sum(p["num_input_rows"] for p in applied)
    assert total_rows == fixture_meta["n_events"]
    assert all("triggerExecution" in p["duration_ms"] for p in applied)


def test_stream_identity_is_run_scoped_and_order_guarded(spark, tmp_path, fixture_meta):
    """Two hazards of bare epoch ids / trusted file order:
    (1) a NEW stream (fresh checkpoint => epochs restart at 0) into a
        previously-streamed table must not be skipped by the OLD
        stream's committed epoch 0;
    (2) an epoch whose lsn range reaches below this run's applied
        high-water mark must fail fast — commit-sequence LWW would
        silently regress keys."""
    from astro_data_pipeline_spark.streaming.runner_bridge import StreamApplier
    from astro_data_pipeline_spark.cdc.runner import read_event_log

    table = _new_table(spark, tmp_path)
    v1 = read_event_log(spark, fixture_meta["v1_path"])
    v2 = read_event_log(spark, fixture_meta["v2_path"])

    a = StreamApplier(table, run_id="streamA", mode="mor")
    r1 = a(v1, epoch_id=0)
    assert r1["status"] == "applied" and r1["batch_id"] == "streamA:epoch:0"

    # (1) different stream, same epoch number: must APPLY, not skip
    b = StreamApplier(table, run_id="streamB", mode="mor")
    r2 = b(v2, epoch_id=0)
    assert r2["status"] == "applied" and r2["batch_id"] == "streamB:epoch:0"

    # same stream, same epoch replayed (checkpoint-lost gap): skipped,
    # even by a FRESH applier that must re-seed from the ledger
    a_restarted = StreamApplier(table, run_id="streamA", mode="mor")
    r3 = a_restarted(v1, epoch_id=0)
    assert r3["status"] == "skipped"

    # (2) stream A already applied v1's range; feeding it v1 again under
    # a NEW epoch id is out-of-order delivery — fail fast
    with pytest.raises(ValueError, match="out-of-order WAL delivery"):
        a_restarted(v1, epoch_id=1)
    # opt-out accepts it (producer vouches for per-key ordering)
    loose = StreamApplier(table, run_id="streamA", mode="mor", strict_order=False)
    assert loose(v1, epoch_id=1)["status"] == "applied"


def test_order_guard_ignores_quarantine_bound_lsns(spark, tmp_path, fixture_meta):
    """One corrupt row carrying a garbage lsn (quarantine-bound: null
    repo) must not poison the order guard or the persisted high-water
    mark — bounds are computed over VALID rows only, so the next valid
    epoch still applies instead of the stream bricking on a row the
    quarantine path exists to absorb."""
    from astro_data_pipeline_spark.cdc.runner import read_event_log
    from astro_data_pipeline_spark.streaming.runner_bridge import StreamApplier
    from pyspark.sql import functions as F

    table = _new_table(spark, tmp_path)
    v1 = read_event_log(spark, fixture_meta["v1_path"])
    v2 = read_event_log(spark, fixture_meta["v2_path"])
    # epoch 0: v1 plus one corrupt row with an lsn far above every real one
    corrupt = (
        v1.limit(1)
        .withColumn("repo", F.lit(None).cast("string"))
        .withColumn("lsn", F.lit(999_999_999_999))
    )
    a = StreamApplier(table, run_id="g", mode="mor")
    r1 = a(v1.unionByName(corrupt), epoch_id=0)
    assert r1["status"] == "applied"
    assert r1["n_quarantined"] == 1
    # epoch 1 (v2, strictly above v1's VALID range) must apply — with raw
    # bounds the corrupt lsn would have set the high-water mark to 1e12
    # and this epoch would raise out-of-order
    r2 = a(v2, epoch_id=1)
    assert r2["status"] == "applied"
    # a fresh applier re-seeds the mark from manifests: still sane
    b = StreamApplier(table, run_id="g", mode="mor")
    with pytest.raises(ValueError, match="out-of-order"):
        b(v1, epoch_id=2)  # genuinely below the (valid) high-water mark


def test_stream_resume_survives_snapshot_expiry(spark, tmp_path, fixture_meta):
    """Exactly-once resume from the table ledger must survive
    expire_snapshots: expired epochs' batch ids (and the LSN high-water
    mark) fold into the inherited ledger, so a fresh applier with a lost
    checkpoint still skips them and still order-guards."""
    from astro_data_pipeline_spark.cdc.runner import read_event_log
    from astro_data_pipeline_spark.streaming.runner_bridge import StreamApplier

    table = _new_table(spark, tmp_path)
    v1 = read_event_log(spark, fixture_meta["v1_path"])
    v2 = read_event_log(spark, fixture_meta["v2_path"])
    a = StreamApplier(table, run_id="x", mode="mor")
    assert a(v1, epoch_id=0)["status"] == "applied"
    assert a(v2, epoch_id=1)["status"] == "applied"
    # push the epochs' snapshots past the retention window with two
    # metadata-only padding commits
    table.add_columns([])
    table.add_columns([])
    table.expire_snapshots(keep_last=2)
    # lost checkpoint, same run id: both epochs must SKIP (not re-apply)
    fresh = StreamApplier(table, run_id="x", mode="mor")
    assert fresh(v1, epoch_id=0)["status"] == "skipped"
    assert fresh(v2, epoch_id=1)["status"] == "skipped"
    # and the high-water mark survived expiry: replaying v1 under a new
    # epoch still fails fast
    with pytest.raises(ValueError, match="out-of-order"):
        fresh(v1, epoch_id=2)


def test_stateful_changelog_quarantines_malformed_events(spark, tmp_path, fixture_meta):
    """One null-lsn event must not poison the stateful stream: Arrow
    hands the kernel a float64 lsn (NaN), int(NaN) raises, and the
    restart loops on the same micro-batch forever. The operator applies
    the batch path's validity gate instead."""
    import os

    from astro_data_pipeline_spark.streaming.stateful import (
        stateful_current_state_changelog,
    )

    bad = pd.DataFrame(
        [
            dict(lsn=None, ts=pd.Timestamp("2025-01-01"), op="update", repo="r",
                 path="p.py", commit="c", lang="py", content="x", lang_meta=None),
            dict(lsn=5, ts=pd.Timestamp("2025-01-01"), op="update", repo=None,
                 path="q.py", commit="c", lang="py", content="x", lang_meta=None),
            dict(lsn=7, ts=pd.Timestamp("2025-01-01"), op="insert", repo="r",
                 path="ok.py", commit="c1", lang="py", content="good", lang_meta=None),
        ]
    )
    src = tmp_path / "wal"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("op", T.StringType()),
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("content", T.StringType()),
            T.StructField("lang_meta", T.StringType()),
        ]
    )
    spark.createDataFrame(bad, schema=schema).coalesce(1).write.parquet(
        str(src / "seg.parquet")
    )
    stream = event_log_stream(spark, str(src / "*.parquet"), schema=schema)
    out = stateful_current_state_changelog(stream)
    rows = []
    q = (
        out.writeStream.format("memory")
        .queryName("poison_pill_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM poison_pill_t").collect()
    assert len(got) == 1
    assert got[0]["path"] == "ok.py" and got[0]["last_lsn"] == 7


def test_shingles_short_docs_yield_no_shingles(spark):
    """Docs with <3 tokens (or empty text) must yield ZERO shingles, not
    crash: sequence(0, -1) runs DESCENDING, so the old greatest(size-3,
    -1) form indexed past the array — INVALID_ARRAY_INDEX under Spark 4
    ANSI defaults. The DuckDB oracle's generate_series form is empty for
    these docs, so any emitted partial shingle is also an oracle
    divergence."""
    from astro_data_pipeline_spark.textops.dedup import _shingles

    docs = spark.createDataFrame(
        [(1, "one two"), (2, "solo"), (3, ""), (4, None), (5, "a b c d")],
        schema="doc_id long, text string",
    )
    got = _shingles(docs).collect()
    assert {r["doc_id"] for r in got} == {5}
    assert sorted(r["shingle"] for r in got) == ["a b c", "b c d"]


def test_stream_restore_rewind_requires_fresh_checkpoint(
    spark, tmp_path, fixture_meta, oracle_state
):
    """Restore × streaming-resume interplay (the recovery contract):

    ``LakeTable.restore`` rewinds the TABLE's exactly-once ledger, but a
    structured-streaming checkpoint's SOURCE OFFSETS do not rewind — the
    file source remembers consumed segments forever. So re-draining over
    the SAME checkpoint after a restore applies nothing and the table
    silently stays rolled back (the Delta-documented RESTORE+streaming
    footgun, pinned here so it fails loudly if the behavior ever drifts).
    The correct rewind-and-replay recipe is a FRESH checkpoint with the
    SAME run_id: epochs renumber from 0 and reconstruct the original
    ``{run_id}:epoch:{N}`` batch ids, so still-committed epochs skip via
    the ledger while the rolled-back epochs re-apply — and the
    strict-order guard's high-water mark, reseeded from the restored
    chain, rewinds with them instead of bricking the stream."""
    table = _new_table(spark, tmp_path)
    ckpt1 = str(tmp_path / "ckpt1")
    reports = stream_replay_available_now(
        spark, _glob(fixture_meta), table, ckpt1, run_id="s1"
    )
    applied = [r for r in reports if r["status"] == "applied"]
    assert len(applied) >= 2
    expected = oracle_state[FINAL_COLS].reset_index(drop=True)
    expected = expected.assign(
        lang_meta=expected["lang_meta"].where(pd.notna(expected["lang_meta"]), None)
    )
    pd.testing.assert_frame_equal(_final_state(table), expected, check_dtype=False)

    # roll back to the state after the FIRST applied epoch (undoes the
    # schema-evolution commit and every later epoch)
    table.restore(applied[0]["snapshot_id"])
    rolled_back = _final_state(table)
    assert len(rolled_back) != len(expected) or not rolled_back.equals(expected)
    assert applied[-1]["batch_id"] not in table.committed_batch_ids(run_scope="s1")

    # SAME checkpoint: source offsets never rewind -> nothing re-applies,
    # the table stays rolled back
    reports_same = stream_replay_available_now(
        spark, _glob(fixture_meta), table, ckpt1, run_id="s1"
    )
    assert all(r["status"] != "applied" for r in reports_same)
    pd.testing.assert_frame_equal(_final_state(table), rolled_back, check_dtype=False)

    # FRESH checkpoint + SAME run_id: retained epochs skip by batch id,
    # rolled-back epochs re-apply, state reconverges to the oracle
    reports_fresh = stream_replay_available_now(
        spark, _glob(fixture_meta), table, str(tmp_path / "ckpt2"), run_id="s1"
    )
    statuses = [r["status"] for r in reports_fresh]
    assert statuses.count("applied") == len(applied) - 1
    assert statuses.count("skipped") >= 1
    pd.testing.assert_frame_equal(_final_state(table), expected, check_dtype=False)


def test_stream_into_branch_then_publish(spark, tmp_path, fixture_meta, oracle_state):
    """WAP over Structured Streaming: the stream tails the WAL into a
    BRANCH view (main never moves), audits run against the branch, and
    fast_forward publishes the audited state to main in one CAS."""
    table = _new_table(spark, tmp_path)
    staging = table.create_branch("staging")
    reports = stream_replay_available_now(
        spark,
        _glob(fixture_meta),
        staging,
        checkpoint_dir=str(tmp_path / "ckpt"),
        run_id="stream-wap",
    )
    assert [r["status"] for r in reports].count("applied") >= 2
    # isolation: main is still the empty create snapshot
    assert table.current_snapshot().summary["operation"] == "create"
    assert table.read().count() == 0
    # audit on the branch view, then publish
    expected = oracle_state[FINAL_COLS].reset_index(drop=True)
    expected = expected.assign(
        lang_meta=expected["lang_meta"].where(pd.notna(expected["lang_meta"]), None)
    )
    pd.testing.assert_frame_equal(_final_state(staging), expected, check_dtype=False)
    table.fast_forward("staging")
    pd.testing.assert_frame_equal(_final_state(table), expected, check_dtype=False)


def test_stream_maintains_incremental_matview(spark, tmp_path, fixture_meta):
    """A per-repo aggregate view maintained per epoch alongside the
    streaming replay (the Flink-dynamic-table shape): after the drain
    the view must be value-identical to a full recompute from the base,
    and a checkpoint restart must move neither table nor view."""
    from astro_data_pipeline_spark.lakehouse.matview import (
        AggSpec,
        IncrementalAggView,
    )

    table = _new_table(spark, tmp_path)
    view = IncrementalAggView.create(
        spark,
        str(tmp_path / "mv"),
        table,
        ["repo"],
        [
            AggSpec("count", None, "n_files"),
            AggSpec("max", "last_lsn", "max_lsn"),
            AggSpec("sum", "last_lsn", "sum_lsn"),
        ],
        n_buckets=4,
    )
    ckpt = str(tmp_path / "ckpt")
    stream_replay_available_now(
        spark, _glob(fixture_meta), table, ckpt, run_id="mv-s1", views=[view]
    )

    def _rows(df):
        cols = sorted(df.columns)
        return sorted(
            (tuple(r[c] for c in cols) for r in df.select(*cols).collect()),
            key=lambda t: tuple((x is None, x) for x in t),
        )

    assert _rows(view.read()) == _rows(view.full_compute())
    assert view.read().count() > 0
    view_snap = view.table.current_snapshot().snapshot_id
    # restart over the same checkpoint: nothing consumed, nothing refreshed
    stream_replay_available_now(
        spark, _glob(fixture_meta), table, ckpt, run_id="mv-s2", views=[view]
    )
    assert view.table.current_snapshot().snapshot_id == view_snap
    assert _rows(view.read()) == _rows(view.full_compute())


def test_stream_view_catches_up_after_crash_between_commit_and_refresh(
    spark, tmp_path, fixture_meta
):
    """Crash window: the base commit landed but the view refresh did not
    (process died between them). On restart the stream may find ZERO new
    files — no epoch fires — so the post-drain sweep must still bring
    the view current."""
    from pyspark.sql import functions as F

    from astro_data_pipeline_spark.lakehouse.matview import (
        AggSpec,
        IncrementalAggView,
    )

    table = _new_table(spark, tmp_path)
    view = IncrementalAggView.create(
        spark, str(tmp_path / "mv"), table, ["repo"],
        [AggSpec("count", None, "n_files")], n_buckets=4,
    )
    ckpt = str(tmp_path / "ckpt")
    stream_replay_available_now(
        spark, _glob(fixture_meta), table, ckpt, run_id="cw-1", views=[view]
    )
    # simulate the crash window: a base commit with NO view refresh
    table.merge_mor(
        spark.createDataFrame(
            [("crashrepo", "f.py", "c1", "py", "x", "sha", 10**9, None)],
            schema=("repo string, path string, commit string, lang string, "
                    "content string, content_sha256 string, last_lsn long, "
                    "lang_meta string"),
        ).withColumn("op", F.lit("insert")),
        summary={"batch_id": "crash-sim"},
    )
    # restart over the same checkpoint: no new WAL files, zero epochs
    stream_replay_available_now(
        spark, _glob(fixture_meta), table, ckpt, run_id="cw-2", views=[view]
    )
    got = {r["repo"]: r["n_files"] for r in view.read().collect()}
    assert got.get("crashrepo") == 1

    def _rows(df):
        cols = sorted(df.columns)
        return sorted(
            (tuple(r[c] for c in cols) for r in df.select(*cols).collect()),
            key=lambda t: tuple((x is None, x) for x in t),
        )

    assert _rows(view.read()) == _rows(view.full_compute())
