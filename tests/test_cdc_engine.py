"""End-to-end CDC engine tests — the staging-to-catalog ingest test
mirrored (SURVEY.md §5): replay the fixture event log on Spark + the
LakeTable sink, assert final state equals the pandas oracle per-row
(sha256 invariant), including kill/resume, idempotency, schema
evolution, salting correctness, and lineage accounting."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from astro_data_pipeline_spark.cdc import apply as A
from astro_data_pipeline_spark.cdc.fixtures import generate_change_log, load_events_pandas
from astro_data_pipeline_spark.cdc.oracle import replay_reference
from astro_data_pipeline_spark.cdc.runner import CdcRunner, KilledError, read_event_log
from astro_data_pipeline_spark.lakehouse import LakeTable
from pyspark.sql import functions as F
from pyspark.sql import types as T

FINAL_COLS = ["repo", "path", "commit", "lang", "lang_meta", "content_sha256", "last_lsn"]


@pytest.fixture(scope="module")
def fixture_meta(tmp_path_factory):
    out = tmp_path_factory.mktemp("cdc_fixtures")
    return generate_change_log(str(out), n_repos=20, n_keys=400, n_events=3000)


@pytest.fixture(scope="module")
def oracle_state(fixture_meta) -> pd.DataFrame:
    return replay_reference(load_events_pandas(fixture_meta))


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


def _normalize(oracle: pd.DataFrame) -> pd.DataFrame:
    out = oracle[FINAL_COLS].copy()
    out["lang_meta"] = out["lang_meta"].where(pd.notna(out["lang_meta"]), None)
    return out.reset_index(drop=True)


# ------------------------------------------------------------ fixtures


def test_fixture_adversarial_properties(fixture_meta):
    ev = load_events_pandas(fixture_meta)
    # duplicate deliveries exist and are payload-identical
    dup_mask = ev.duplicated(subset=["lsn"], keep=False)
    assert dup_mask.any()
    dups = ev[dup_mask].sort_values("lsn")
    grp = dups.groupby("lsn").agg(n_commit=("commit", "nunique"))
    assert (grp["n_commit"] == 1).all()
    # out-of-order: file order != LSN order
    assert not ev["lsn"].is_monotonic_increasing
    # delete→reinsert of the same key exists
    per_key = ev.sort_values("lsn").groupby(["repo", "path"])["op"].apply(
        lambda ops: "delete" in set(ops[:-1]) and list(ops)[-1] != "delete"
    )
    assert per_key.any()
    # schema evolution: lang_meta only after the boundary
    v2 = ev[ev["lsn"] > fixture_meta["evolution_lsn"]]
    assert v2["lang_meta"].notna().any()
    # hot repo skew present
    top_share = ev["repo"].value_counts(normalize=True).iloc[0]
    assert top_share > 0.1


# -------------------------------------------------------------- reader


def test_read_event_log_expands_globs_and_directory_segments(
    spark, tmp_path, fixture_meta
):
    """A WAL glob may match BOTH plain parquet files and Spark-written
    dataset directories (named '*.parquet' but actually directories of
    part files) — every segment must reach the scan, and the footer LSN
    bounds must span all of them."""
    import glob as _glob
    import shutil

    wal = tmp_path / "wal"
    wal.mkdir()
    shutil.copy(fixture_meta["v1_path"], wal / "change_events_a.parquet")
    # re-write v2 through Spark so the segment is a DIRECTORY
    spark.read.parquet(fixture_meta["v2_path"]).coalesce(2).write.parquet(
        str(wal / "change_events_b.parquet")
    )
    direct = read_event_log(spark, fixture_meta["v1_path"], fixture_meta["v2_path"])
    globbed = read_event_log(spark, str(wal / "change_events_*.parquet"))
    assert globbed.count() == direct.count()
    lo, hi = globbed._adps_lsn_bounds
    rlo, rhi = direct._adps_lsn_bounds
    assert (lo, hi) == (rlo, rhi)
    # sanity: the glob really did match a directory
    assert any(
        __import__("os").path.isdir(m)
        for m in _glob.glob(str(wal / "change_events_*.parquet"))
    )


def test_read_event_log_glob_rejects_unreadable_segment(
    spark, tmp_path, fixture_meta
):
    """A loose glob that matches a plain non-parquet file must RAISE,
    not silently drop the file: an excluded WAL segment would make
    replay over an incomplete log look green. Known marker files
    (_SUCCESS, *.crc, meta.json, dotfiles) are skipped silently."""
    import shutil

    wal = tmp_path / "wal"
    wal.mkdir()
    shutil.copy(fixture_meta["v1_path"], wal / "seg_a.parquet")
    # markers a Spark writer / fixture generator leaves behind: skipped
    (wal / "_SUCCESS").write_text("")
    (wal / ".seg_a.parquet.crc").write_text("")
    (wal / "meta.json").write_text("{}")
    ok = read_event_log(spark, str(wal / "*"))
    assert ok.count() == spark.read.parquet(fixture_meta["v1_path"]).count()
    # a WAL segment without the .parquet suffix is NOT skippable
    shutil.copy(fixture_meta["v2_path"], wal / "seg_b.walseg")
    with pytest.raises(ValueError, match="non-parquet"):
        read_event_log(spark, str(wal / "*"))


# -------------------------------------------------------------- replay


@pytest.mark.parametrize(
    "mode,compact_every",
    [("cow", None), ("mor", None), ("mor", 2)],
    ids=["cow", "mor", "mor+compact"],
)
def test_replay_matches_oracle(spark, tmp_path, fixture_meta, oracle_state, mode, compact_every):
    table = _new_table(spark, tmp_path)
    events = read_event_log(spark, fixture_meta["v1_path"], fixture_meta["v2_path"])
    runner = CdcRunner(spark, table, run_id="r1", mode=mode, compact_every=compact_every)
    reports = runner.replay(events, n_batches=5)
    assert all(r.status in ("applied", "empty") for r in reports)
    got, want = _final_state(table), _normalize(oracle_state)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_mor_compaction_preserves_state(spark, tmp_path, fixture_meta, oracle_state):
    table = _new_table(spark, tmp_path)
    events = read_event_log(spark, fixture_meta["v1_path"], fixture_meta["v2_path"])
    CdcRunner(spark, table, run_id="r1", mode="mor").replay(events, n_batches=4)
    assert table.current_snapshot().delta_files, "mor replay must leave deltas"
    before = _final_state(table)
    snap = table.compact()
    assert snap is not None and not snap.delta_files
    after = _final_state(table)
    pd.testing.assert_frame_equal(before, after, check_dtype=False)
    pd.testing.assert_frame_equal(after, _normalize(oracle_state), check_dtype=False)


def test_idempotent_reapply_skips(spark, tmp_path, fixture_meta, oracle_state):
    table = _new_table(spark, tmp_path)
    events = read_event_log(spark, fixture_meta["v1_path"], fixture_meta["v2_path"])
    CdcRunner(spark, table, run_id="r1").replay(events, n_batches=4)
    before = _final_state(table)
    # second full replay: every batch must be skipped, state unchanged
    reports = CdcRunner(spark, table, run_id="r2").replay(events, n_batches=4)
    assert all(r.status == "skipped" for r in reports)
    pd.testing.assert_frame_equal(before, _final_state(table), check_dtype=False)


def test_kill_and_resume_exactly_once(spark, tmp_path, fixture_meta, oracle_state):
    table = _new_table(spark, tmp_path)
    events = read_event_log(spark, fixture_meta["v1_path"], fixture_meta["v2_path"])
    with pytest.raises(KilledError):
        CdcRunner(spark, table, run_id="r1").replay(events, n_batches=6, fail_after=2)
    # killed mid-run: some batches committed, table is a consistent prefix
    committed = table.committed_batch_ids()
    assert len(committed) == 2
    # resume with a NEW run id over the same log
    reports = CdcRunner(spark, table, run_id="r2").replay(events, n_batches=6)
    assert sum(1 for r in reports if r.status == "skipped") == 2
    pd.testing.assert_frame_equal(
        _final_state(table), _normalize(oracle_state), check_dtype=False
    )


def test_schema_evolution_mid_stream(spark, tmp_path, fixture_meta, oracle_state):
    """v1 segment applied before lang_meta exists; evolution promotes the
    column; replay across the boundary converges (Flyway-additive
    contract)."""
    table = _new_table(spark, tmp_path)
    ev_v1 = spark.read.parquet(fixture_meta["v1_path"])
    ev_v2 = spark.read.parquet(fixture_meta["v2_path"])
    assert "lang_meta" not in ev_v1.columns and "lang_meta" in ev_v2.columns
    runner = CdcRunner(spark, table, run_id="r1")
    runner.replay(ev_v1, n_batches=2)
    assert "lang_meta" not in [f.name for f in table.current_snapshot().schema.fields]
    runner.replay(ev_v2, n_batches=2)
    snap = table.current_snapshot()
    assert "lang_meta" in [f.name for f in snap.schema.fields]
    pd.testing.assert_frame_equal(
        _final_state(table), _normalize(oracle_state), check_dtype=False
    )
    # rows last written pre-evolution read back as NULL lang_meta
    pre = table.read().filter(
        (F.col("last_lsn") <= fixture_meta["evolution_lsn"])
        & F.col("lang_meta").isNotNull()
    )
    assert pre.count() == 0


def test_schema_evolution_type_widens_mid_stream(spark, tmp_path):
    """Upstream ALTER COLUMN ... TYPE mid-stream: segment 2 carries
    ``size_bytes`` as bigint where the table (and segment 1) had int32.
    The runner must widen the table (metadata-only) BEFORE the align-cast
    in to_table_rows, or every wide value silently truncates back to the
    stale narrow type."""
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
            T.StructField("content_sha256", T.StringType(), True),
            T.StructField("last_lsn", T.LongType(), True),
            T.StructField("size_bytes", T.IntegerType(), True),
        ]
    )
    table = LakeTable.create(spark, str(tmp_path / "lake"), schema, A.KEY_COLS, n_buckets=8)
    ev1 = spark.createDataFrame(
        [("r1", f"p{i}", f"c{i}", i, "insert", 100 + i) for i in range(6)],
        schema="repo string, path string, content string, lsn long, op string, size_bytes int",
    )
    CdcRunner(spark, table, run_id="w1").replay(ev1, n_batches=1)
    assert dict(table.read().dtypes)["size_bytes"] == "int"

    big = 2**40
    ev2 = spark.createDataFrame(
        [("r1", "p0", "c0v2", 100, "update", big), ("r1", "p9", "c9", 101, "insert", big + 9)],
        schema="repo string, path string, content string, lsn long, op string, size_bytes long",
    )
    CdcRunner(spark, table, run_id="w2").replay(ev2, n_batches=1)
    assert dict(table.read().dtypes)["size_bytes"] == "bigint"
    ops = [s.summary.get("operation") for s in table.snapshot_chain()]
    assert "widen-columns" in ops
    got = {r["path"]: r["size_bytes"] for r in table.read().collect()}
    assert got["p0"] == big and got["p9"] == big + 9
    assert got["p3"] == 103  # narrow pre-widen row upcast intact


def test_replay_continues_after_column_drop(spark, tmp_path):
    """Historical WAL segments keep carrying a dropped column forever;
    evolution must SKIP the poisoned name (the write path ignores the
    column), not wedge every subsequent batch on the resurrect guard —
    that would force exactly the full rewrite metadata-only drop avoids."""
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("content", T.StringType(), True),
            T.StructField("content_sha256", T.StringType(), True),
            T.StructField("last_lsn", T.LongType(), True),
            T.StructField("note", T.StringType(), True),
        ]
    )
    table = LakeTable.create(spark, str(tmp_path / "lake"), schema, A.KEY_COLS, n_buckets=8)
    seg = "repo string, path string, content string, lsn long, op string, note string"
    ev1 = spark.createDataFrame(
        [("r1", f"p{i}", f"c{i}", i, "insert", f"n{i}") for i in range(4)], schema=seg
    )
    CdcRunner(spark, table, run_id="d1").replay(ev1, n_batches=1)
    table.drop_columns(["note"])
    ev2 = spark.createDataFrame(
        [("r1", "p0", "c0v2", 100, "update", "ghost"), ("r1", "p9", "c9", 101, "insert", "g9")],
        schema=seg,
    )
    CdcRunner(spark, table, run_id="d2").replay(ev2, n_batches=1)  # must not raise
    assert "note" not in table.read().columns
    got = {r["path"]: r["last_lsn"] for r in table.read().collect()}
    assert got["p0"] == 100 and got["p9"] == 101


def test_read_event_log_accepts_widened_segments(spark, tmp_path):
    """An upstream ALTER COLUMN ... TYPE retypes a column between WAL
    segments (int32 -> int64 here): the unified read schema takes the
    WIDER type and upcasts the narrow segment — reachable end to end, not
    just via separately-built DataFrames. A non-widening conflict still
    fails fast."""
    seg1 = str(tmp_path / "seg1.parquet")
    seg2 = str(tmp_path / "seg2.parquet")
    spark.createDataFrame(
        [("r1", "a", "c1", 1, "insert", 100)],
        schema="repo string, path string, content string, lsn long, op string, size_bytes int",
    ).coalesce(1).write.parquet(seg1)
    spark.createDataFrame(
        [("r1", "b", "c2", 2, "insert", 2**40)],
        schema="repo string, path string, content string, lsn long, op string, size_bytes long",
    ).coalesce(1).write.parquet(seg2)
    ev = read_event_log(spark, seg1, seg2)
    assert dict(ev.dtypes)["size_bytes"] == "bigint"
    got = {r["path"]: r["size_bytes"] for r in ev.collect()}
    assert got == {"a": 100, "b": 2**40}
    # order independence: widest type wins whichever segment comes first
    ev_rev = read_event_log(spark, seg2, seg1)
    assert dict(ev_rev.dtypes)["size_bytes"] == "bigint"
    assert ev_rev.count() == 2
    # cross-family conflict still refused loudly
    seg3 = str(tmp_path / "seg3.parquet")
    spark.createDataFrame(
        [("r1", "c", "c3", 3, "insert", "oops")],
        schema="repo string, path string, content string, lsn long, op string, size_bytes string",
    ).coalesce(1).write.parquet(seg3)
    with pytest.raises(ValueError, match="schema conflict"):
        read_event_log(spark, seg1, seg3)


# ---------------------------------------------------------- pipelining


def test_pipelined_equals_sequential(spark, tmp_path, fixture_meta, oracle_state):
    """Pipelined MoR replay (writes in flight concurrently, commits
    ordered) produces the identical snapshot chain semantics and final
    state as the strictly sequential loop."""
    t_seq = LakeTable.create(
        spark, str(tmp_path / "seq"), T.StructType(A.BASE_TABLE_FIELDS),
        key_cols=A.KEY_COLS, n_buckets=8,
    )
    t_pipe = LakeTable.create(
        spark, str(tmp_path / "pipe"), T.StructType(A.BASE_TABLE_FIELDS),
        key_cols=A.KEY_COLS, n_buckets=8,
    )
    events = read_event_log(spark, fixture_meta["v1_path"], fixture_meta["v2_path"])
    r_seq = CdcRunner(spark, t_seq, run_id="r1", mode="mor", pipeline_depth=1).replay(
        events, n_batches=5
    )
    r_pipe = CdcRunner(spark, t_pipe, run_id="r1", mode="mor", pipeline_depth=3).replay(
        events, n_batches=5
    )
    assert [r.batch_id for r in r_seq] == [r.batch_id for r in r_pipe]
    assert [r.totals for r in r_seq] == [r.totals for r in r_pipe]
    # commit chains carry the same batch ids in the same order
    ids = lambda t: [
        s.summary.get("batch_id") for s in reversed(t.snapshot_chain())
        if s.summary.get("batch_id")
    ]
    assert ids(t_seq) == ids(t_pipe)
    pd.testing.assert_frame_equal(
        _final_state(t_pipe), _normalize(oracle_state), check_dtype=False
    )


def test_pipelined_crash_leaves_committed_prefix(spark, tmp_path, fixture_meta, oracle_state):
    """A failure mid-pipeline must not expose any uncommitted delta: the
    table stays a consistent committed prefix and a resume converges."""
    table = _new_table(spark, tmp_path)
    events = read_event_log(spark, fixture_meta["v1_path"], fixture_meta["v2_path"])
    runner = CdcRunner(spark, table, run_id="r1", mode="mor", pipeline_depth=3)

    orig = table.mor_write
    calls = {"n": 0}

    def failing(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("injected write failure")
        return orig(*a, **kw)

    table.mor_write = failing
    with pytest.raises(RuntimeError, match="injected"):
        runner.replay(events, n_batches=6)
    table.mor_write = orig

    committed = table.committed_batch_ids()
    assert 0 < len(committed) < 6
    # every committed batch id is a contiguous prefix of the LSN ranges
    state_rows = table.read().count()
    assert state_rows > 0
    # resume completes and matches the oracle
    reports = CdcRunner(spark, table, run_id="r2", mode="mor").replay(
        events, n_batches=6
    )
    assert sum(1 for r in reports if r.status == "skipped") == len(committed)
    pd.testing.assert_frame_equal(
        _final_state(table), _normalize(oracle_state), check_dtype=False
    )


def test_expire_snapshots_collects_crashed_pipeline_orphans(
    spark, tmp_path, fixture_meta
):
    """Delta files written by a crashed pipelined run but never committed
    must be invisible to readers and reclaimed by expire_snapshots."""
    import os

    table = _new_table(spark, tmp_path)
    events = read_event_log(spark, fixture_meta["v1_path"], fixture_meta["v2_path"])
    runner = CdcRunner(spark, table, run_id="r1", mode="mor", pipeline_depth=3)
    orig = table.mor_write
    calls = {"n": 0}

    def failing(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("boom")
        return orig(*a, **kw)

    table.mor_write = failing
    with pytest.raises(RuntimeError):
        runner.replay(events, n_batches=6)
    table.mor_write = orig

    def parquet_files():
        out = set()
        for dirpath, _d, files in os.walk(os.path.join(table.root, "data")):
            for fn in files:
                if fn.endswith(".parquet"):
                    out.add(os.path.join(dirpath, fn))
        return out

    snap = table.current_snapshot()
    live = {
        os.path.join(table.root, p)
        for fs in list(snap.files.values()) + list(snap.delta_files.values())
        for p in fs
    }
    on_disk = parquet_files()
    orphans = on_disk - set().union(
        *(
            {os.path.join(table.root, p) for fs in
             list(s.files.values()) + list(s.delta_files.values()) for p in fs}
            for s in table.snapshot_chain()
        )
    )
    assert orphans, "crashed pipeline should have left uncommitted delta files"
    state_before = table.read().count()
    removed = table.expire_snapshots(keep_last=100)  # keep all committed snaps
    assert removed >= len(orphans)
    assert table.read().count() == state_before
    assert live <= parquet_files()  # live files untouched


def test_kill_between_snapshot_write_and_hint_flip(
    spark, tmp_path, fixture_meta, oracle_state, monkeypatch
):
    """A MoR replay killed after a commit's snapshot JSON is written but
    before the version hint flips leaves an orphan snapshot: its batch is
    not on the ledger, a fresh runner's resume converges to the oracle,
    and expire_snapshots removes the orphan JSON and its delta files."""
    import os

    from astro_data_pipeline_spark.lakehouse.table import commit_files, read_snapshot

    table = _new_table(spark, tmp_path)
    events = read_event_log(spark, fixture_meta["v1_path"], fixture_meta["v2_path"])
    real = LakeTable._commit_hint
    calls = {"n": 0}

    def dying(self, sid):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("killed before the hint flip")
        return real(self, sid)

    monkeypatch.setattr(LakeTable, "_commit_hint", dying)
    with pytest.raises(RuntimeError, match="hint flip"):
        CdcRunner(spark, table, run_id="r1", mode="mor").replay(events, n_batches=6)
    monkeypatch.setattr(LakeTable, "_commit_hint", real)

    meta = os.path.join(table.root, "metadata")
    on_chain = {s.snapshot_id for s in table.snapshot_chain()}
    on_disk = {
        int(fn[len("snapshot-"):-len(".json")])
        for fn in os.listdir(meta)
        if fn.startswith("snapshot-") and fn.endswith(".json")
    }
    (orphan_id,) = on_disk - on_chain
    orphan = read_snapshot(meta, orphan_id)
    assert orphan.summary["operation"] == "merge-mor"
    led = table.ledger("r1")
    assert led.batch_ids and orphan.summary["batch_id"] not in led.batch_ids
    assert led.lsn_hi < orphan.summary["lsn_hi"]
    orphan_files = [
        os.path.join(table.root, p) for ps in commit_files(orphan).values() for p in ps
    ]
    assert orphan_files and all(os.path.exists(f) for f in orphan_files)

    reports = CdcRunner(spark, table, run_id="r2", mode="mor").replay(events, n_batches=6)
    assert sum(r.status == "skipped" for r in reports) == len(led.batch_ids)
    want = _normalize(oracle_state)
    pd.testing.assert_frame_equal(_final_state(table), want, check_dtype=False)

    table.expire_snapshots(keep_last=100)
    assert not os.path.exists(os.path.join(meta, f"snapshot-{orphan_id}.json"))
    assert not any(os.path.exists(f) for f in orphan_files)
    pd.testing.assert_frame_equal(_final_state(table), want, check_dtype=False)


# ------------------------------------------------------------- salting


def test_salted_collapse_equals_unsalted(spark, fixture_meta):
    events = read_event_log(spark, fixture_meta["v1_path"], fixture_meta["v2_path"])
    valid, _ = A.validate_events(events)
    plain = A.lww_collapse(valid, hot_keys=None).toPandas()
    # salt the three busiest keys — salting must be a physical-placement
    # no-op regardless of whether the keys are truly hot
    top = (
        valid.groupBy("repo", "path").count().orderBy(F.desc("count")).limit(3).collect()
    )
    hot = [(r["repo"], r["path"]) for r in top]
    salted = A.lww_collapse(valid, hot_keys=hot, n_salts=8).toPandas()
    key = ["repo", "path"]
    pd.testing.assert_frame_equal(
        plain.sort_values(key).reset_index(drop=True)[sorted(plain.columns)],
        salted.sort_values(key).reset_index(drop=True)[sorted(salted.columns)],
        check_dtype=False,
    )


def test_hot_key_detection_fires_only_on_key_skew(spark, fixture_meta):
    """Repo-size skew must NOT trigger salting (the bucket hash spreads a
    big repo's paths); a single key owning a large batch share must."""
    from astro_data_pipeline_spark.cdc.runner import CdcRunner

    events = read_event_log(spark, fixture_meta["v1_path"], fixture_meta["v2_path"])
    runner = CdcRunner(spark, None, run_id="det")
    # fixture is Zipf-skewed by repo but key-uniform -> no hot keys
    assert runner.detect_hot_keys(events) == []
    # inject a genuinely hot key: one path receiving 30% of all events
    n = events.count()
    burst = (
        spark.range(int(n * 0.45))
        .select(
            (F.lit(10_000_000) + F.col("id")).alias("lsn"),
            F.lit("2026-01-01").cast("timestamp").alias("ts"),
            F.lit("update").alias("op"),
            F.lit("megarepo").alias("repo"),
            F.lit("hot/file.py").alias("path"),
            F.lit("c").alias("commit"),
            F.lit("py").alias("lang"),
            F.lit("x").alias("content"),
            F.lit(None).cast("string").alias("lang_meta"),
        )
    )
    hot = runner.detect_hot_keys(events.unionByName(burst))
    assert ("megarepo", "hot/file.py") in hot


def test_pipelined_first_batch_warm_starts_from_prior_hot_set(
    spark, tmp_path, fixture_meta, oracle_state
):
    """The pipelined path must not pay hot-key detection on the critical
    path: batch 1 salts with the hot set recorded by the most recent
    committed manifest (empty on a fresh table), later batches with this
    log's own detection result — and the final state is oracle-equal
    either way."""
    table = _new_table(spark, tmp_path)
    events = read_event_log(spark, fixture_meta["v1_path"], fixture_meta["v2_path"])
    runner = CdcRunner(spark, table, run_id="warm1", mode="mor")
    # fresh table: no prior manifest -> warm-start set is empty
    assert runner._prior_hot_keys() == []
    runner.replay(events, n_batches=3)
    pd.testing.assert_frame_equal(_final_state(table), _normalize(oracle_state))
    # seed a manifest carrying a hot set (as a skew-detecting run would)
    seeded = [("megarepo", "hot/file.py")]
    chain = {
        s.summary.get("batch_id"): s.summary for s in table.snapshot_chain()
    }
    assert all("hot_keys" in v for k, v in chain.items() if k)
    table.compact(summary={"hot_keys": ["\x1f".join(k) for k in seeded]})
    runner2 = CdcRunner(spark, table, run_id="warm2", mode="mor")
    assert runner2._prior_hot_keys() == seeded
    # replaying an already-applied log: every batch skips, and the
    # replay must not corrupt state while warm-starting
    reports = runner2.replay(events, n_batches=3)
    assert all(r.status == "skipped" for r in reports)
    # a new disjoint log actually applies; its FIRST batch manifest must
    # record the seeded warm-start set (later batches record this log's
    # OWN detection result — the fresh set replaces the warm start, it
    # does not union with it, or a key hot once would stay salted
    # forever across continuous runs).
    # Shift LSNs past the applied log: batch identity is the LSN range,
    # so a genuinely-new log must occupy new WAL positions.
    extra = generate_change_log(
        str(tmp_path / "log2"), n_repos=4, n_keys=40, n_events=300
    )
    events2 = read_event_log(spark, extra["v1_path"], extra["v2_path"]).withColumn(
        "lsn", F.col("lsn") + F.lit(10_000_000)
    )
    runner3 = CdcRunner(spark, table, run_id="warm3", mode="mor")
    runner3.replay(events2, n_batches=2)
    applied = [
        s.summary
        for s in table.snapshot_chain()
        if s.summary.get("run_scope") == "warm3"
    ]
    assert len(applied) == 2
    first = min(applied, key=lambda s: s["lsn_lo"])
    assert first["hot_keys"] == ["\x1f".join(k) for k in seeded]


def test_prior_hot_keys_survive_compact_and_expiry(spark, tmp_path, fixture_meta):
    """After ``compact()`` + ``expire_snapshots(keep_last=1)`` the only
    kept commit is the compaction, which records no hot set: expiry must
    carry the newest expired ``hot_keys`` onto the re-rooted snapshot,
    or the next replay's warm-start salt set is silently empty."""
    table = _new_table(spark, tmp_path)
    events = read_event_log(spark, fixture_meta["v1_path"]).limit(300)
    seeded = [("megarepo", "hot/file.py")]
    runner = CdcRunner(spark, table, run_id="hot1", mode="mor")
    runner.apply_batch(events, "b1", 0, 10**9, hot_keys=seeded)
    table.compact()
    table.expire_snapshots(keep_last=1)
    assert [s.summary["operation"] for s in table.snapshot_chain()] == ["compact"]
    assert CdcRunner(spark, table, run_id="hot2", mode="mor")._prior_hot_keys() == seeded
    # a kept batch's own (empty) hot set is not replaced by an older one
    runner.apply_batch(events, "b2", 0, 10**9, hot_keys=[])
    table.expire_snapshots(keep_last=1)
    assert table.snapshot_chain()[0].summary["hot_keys"] == []
    assert CdcRunner(spark, table, run_id="hot3", mode="mor")._prior_hot_keys() == []


def test_quarantine_invalid_events(spark, fixture_meta):
    events = read_event_log(spark, fixture_meta["v1_path"]).limit(100)
    bad = events.withColumn("op", F.lit("truncate")).limit(5)
    mixed = events.unionByName(bad)
    valid, quarantine = A.validate_events(mixed)
    assert quarantine.count() == 5
    assert valid.count() == 100


# every replay configuration counts quarantined rows the same way: the
# sequential and pipelined MoR loops and the copy-on-write merge
REPLAY_CONFIGS = pytest.mark.parametrize(
    "runner_kw",
    [
        {"mode": "mor", "pipeline_depth": 1},
        {"mode": "mor"},
        {"mode": "cow", "pipeline_depth": 1},
    ],
    ids=["mor-depth1", "mor-default", "cow-depth1"],
)


@REPLAY_CONFIGS
def test_null_lsn_and_null_op_rows_are_quarantined_not_lost(
    spark, tmp_path, fixture_meta, oracle_state, runner_kw
):
    """Rows with a NULL lsn fall outside every (lo, hi] LSN slice, and a
    NULL op makes the validity predicate evaluate to SQL NULL — both
    classes must surface in n_quarantined, not silently vanish, and must
    not perturb the final state."""
    table = _new_table(spark, tmp_path)
    events = read_event_log(spark, fixture_meta["v1_path"], fixture_meta["v2_path"])
    junk_null_lsn = (
        events.limit(3).withColumn("lsn", F.lit(None).cast("long"))
    )
    junk_null_op = events.limit(2).withColumn("op", F.lit(None).cast("string"))
    # null-op rows need an in-range lsn that is NOT a real event's lsn
    # (LWW ties are resolved deterministically but we want clean counts)
    junk_null_op = junk_null_op.withColumn("lsn", F.col("lsn") + F.lit(1))
    mixed = events.unionByName(junk_null_lsn).unionByName(junk_null_op)
    reports = CdcRunner(spark, table, run_id="nn", **runner_kw).replay(
        mixed, n_batches=3
    )
    assert sum(r.n_quarantined for r in reports) == 5
    pd.testing.assert_frame_equal(_final_state(table), _normalize(oracle_state))


@REPLAY_CONFIGS
@pytest.mark.parametrize("bad", ["bogus_op", "null_repo"])
def test_all_quarantine_batch_is_counted(spark, tmp_path, runner_kw, bad):
    """A batch whose every row is quarantine-bound still reports each of
    them: its write sees an empty valid side (MoR) or touches no bucket
    at all (CoW), so the quarantine observation delivers nothing and the
    count must be recomputed, not assumed 0."""
    rows = [
        dict(lsn=i, ts=pd.Timestamp("2026-01-01"), op="insert", repo="r",
             path=f"p{i}", commit=f"c{i}", lang="py", content=f"v{i}")
        for i in range(1, 11)
    ]
    for r in rows[:5]:
        if bad == "bogus_op":
            r["op"] = "bogus"
        else:
            r["repo"] = None
    events = spark.createDataFrame(
        pd.DataFrame(rows),
        "lsn long, ts timestamp, op string, repo string, path string, "
        "commit string, lang string, content string",
    )
    table = _new_table(spark, tmp_path)
    reports = CdcRunner(spark, table, run_id="q", **runner_kw).replay(
        events, n_batches=2
    )
    assert [r.batch_id for r in reports] == ["lsn:0-5", "lsn:5-10"]
    assert [r.n_quarantined for r in reports] == [5, 0]
    assert sorted(r["path"] for r in table.read().collect()) == sorted(
        f"p{i}" for i in range(6, 11)
    )


def test_all_null_lsn_log_runs_quarantine_only_batch(spark, tmp_path, fixture_meta):
    """A non-empty log whose every lsn is NULL must produce one
    quarantine-only batch report (zero rows applied, all counted) — not
    return zero batches as if the log were empty."""
    table = _new_table(spark, tmp_path)
    events = read_event_log(spark, fixture_meta["v1_path"]).limit(7)
    allnull = events.withColumn("lsn", F.lit(None).cast("long"))
    reports = CdcRunner(spark, table, run_id="an", mode="mor").replay(
        allnull, n_batches=2
    )
    assert len(reports) == 1
    assert reports[0].batch_id == "lsn:null-only"
    assert reports[0].n_quarantined == 7
    assert table.read().count() == 0
    # a genuinely empty log is still a no-op
    assert CdcRunner(spark, table, run_id="e", mode="mor").replay(
        allnull.limit(0), n_batches=2
    ) == []


def test_lsn_ranges_rejects_nonpositive_batch_count():
    from astro_data_pipeline_spark.cdc.runner import lsn_ranges

    with pytest.raises(ValueError, match="n_batches"):
        lsn_ranges(1, 100, 0)


def test_read_event_log_nested_dirs_junk_globs_and_type_conflicts(
    spark, tmp_path, fixture_meta
):
    """Segment dirs with nested part files must be read fully (not
    silently contribute zero files); loose globs must skip _SUCCESS-style
    markers; a cross-segment column type conflict must fail fast naming
    the file, not blow up mid-replay in the vectorized reader."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # nested layout: seg/sub=0/part.parquet
    seg = tmp_path / "seg"
    (seg / "sub=0").mkdir(parents=True)
    src = spark.read.parquet(fixture_meta["v1_path"]).limit(10).toPandas()
    pq.write_table(pa.Table.from_pandas(src), str(seg / "sub=0" / "part.parquet"))
    (seg / "_SUCCESS").write_text("")
    df = read_event_log(spark, str(tmp_path / "*"))
    assert df.count() == 10
    # empty dir = error, not silent exclusion
    empty = tmp_path / "empty-seg"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="empty-seg"):
        read_event_log(spark, str(seg), str(empty))
    # a LOSSLESSLY-widenable retype (int32 lsn vs int64) is legal — the
    # unified schema takes the wider type (upstream ALTER COLUMN case)
    narrow = tmp_path / "narrow.parquet"
    nrw = src.copy()
    nrw["lsn"] = nrw["lsn"].astype("int32")
    pq.write_table(pa.Table.from_pandas(nrw), str(narrow))
    df2 = read_event_log(spark, str(seg), str(narrow))
    assert dict(df2.dtypes)["lsn"] == "bigint" and df2.count() == 20
    # an incompatible retype = fail fast with the culprit path
    conflict = tmp_path / "conflict.parquet"
    bad = src.copy()
    bad["lsn"] = bad["lsn"].astype(str)
    pq.write_table(pa.Table.from_pandas(bad), str(conflict))
    with pytest.raises(ValueError, match="lsn"):
        read_event_log(spark, str(seg), str(conflict))


# ------------------------------------------------------------- lineage


def test_lineage_accounting(spark, tmp_path, fixture_meta):
    table = _new_table(spark, tmp_path)
    events = read_event_log(spark, fixture_meta["v1_path"], fixture_meta["v2_path"])
    CdcRunner(spark, table, run_id="r1", mode="cow").replay(events, n_batches=4)
    # per-(batch, partition) lineage rows exist and name their snapshot
    lin = table.lineage().toPandas()
    assert {"run_id", "batch_id", "partition_id", "snapshot_id",
            "lsn_lo", "lsn_hi", "committed_at_ms"} <= set(lin.columns)
    assert lin["partition_id"].nunique() > 1
    # batch totals in the snapshot chain reconcile with the final state
    merges = [s.summary for s in table.snapshot_chain() if s.summary.get("operation") == "merge"]
    net = sum(s["rows_inserted"] - s["rows_deleted"] for s in merges)
    assert net == table.read().count()
    # every merge snapshot carries its batch manifest fields
    assert all({"run_id", "batch_id", "lsn_lo", "lsn_hi"} <= set(s) for s in merges)


def test_sha_invariant_native_equals_arrow(spark, fixture_meta):
    """F.sha2 (JVM) and the Arrow pandas UDF agree — the invariant's two
    implementations cross-check."""
    ev = spark.read.parquet(fixture_meta["v1_path"]).filter(F.col("content").isNotNull())
    from astro_data_pipeline_spark.functions.hashing import sha256_arrow

    diff = ev.select(
        sha256_arrow(F.col("content")).alias("a"), F.sha2(F.col("content"), 256).alias("b")
    ).filter(F.col("a") != F.col("b"))
    assert diff.count() == 0


def test_workflow_activation_merge_idempotent(spark, tmp_path):
    """Activation flip as an engine MERGE (reference:
    activate_workflow_version, V2_2__...sql:232-301): keying the lake
    table on workflow identity makes 'activate version N, deactivate
    others' a single LWW upsert — the new activation atomically replaces
    the old row. Re-applying the same activation batch (same batch id)
    must skip; re-activating the already-active version must leave the
    state byte-identical (idempotent reactivation)."""
    schema = T.StructType([
        T.StructField("repo", T.StringType(), False),   # workflow_name
        T.StructField("path", T.StringType(), False),   # processing_type
        T.StructField("commit", T.StringType(), True),  # version label
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),  # activation payload
        T.StructField("content_sha256", T.StringType(), True),
        T.StructField("last_lsn", T.LongType(), True),
    ])
    table = LakeTable.create(
        spark, str(tmp_path / "wf"), schema, key_cols=["repo", "path"], n_buckets=4
    )
    def activation(lsn, wf, ptype, version):
        return dict(
            lsn=lsn, ts=pd.Timestamp("2026-01-01"), op="update", repo=wf,
            path=ptype, commit=version, lang="wf",
            content=f"active={version};traffic=100.0",
        )

    runner = CdcRunner(spark, table, run_id="wf", mode="mor")
    b1 = spark.createDataFrame(pd.DataFrame([
        activation(1, "calib", "fits", "v1"),
        activation(2, "stack", "fits", "v1"),
    ]))
    runner.apply_batch(b1, "act:1", 0, 2, hot_keys=[])
    b2 = spark.createDataFrame(pd.DataFrame([
        activation(3, "calib", "fits", "v2"),  # activate v2 → closes v1
    ]))
    runner.apply_batch(b2, "act:2", 2, 3, hot_keys=[])
    state = table.read().toPandas().sort_values("repo").reset_index(drop=True)
    assert list(state["commit"]) == ["v2", "v1"]  # calib flipped, stack kept

    # same batch id re-applied → skipped, snapshot unchanged
    snap_before = table.current_snapshot().snapshot_id
    rep = runner.apply_batch(b2, "act:2", 2, 3, hot_keys=[])
    assert rep.status == "skipped"
    assert table.current_snapshot().snapshot_id == snap_before

    # reactivating the active version (new lsn) converges to same content
    b3 = spark.createDataFrame(pd.DataFrame([
        activation(4, "calib", "fits", "v2"),
    ]))
    runner.apply_batch(b3, "act:3", 3, 4, hot_keys=[])
    state2 = table.read().toPandas().sort_values("repo").reset_index(drop=True)
    assert list(state2["commit"]) == ["v2", "v1"]
    assert list(state2["content_sha256"]) == list(state["content_sha256"])

    # rollback = activating the older version again
    b4 = spark.createDataFrame(pd.DataFrame([
        activation(5, "calib", "fits", "v1"),
    ]))
    runner.apply_batch(b4, "act:4", 4, 5, hot_keys=[])
    assert list(
        table.read().toPandas().sort_values("repo")["commit"]
    ) == ["v1", "v1"]


def test_lsn_tie_resolves_deterministically(spark):
    """SURVEY §7 hard case #2: a MALFORMED log carrying two DIFFERENT
    events under one LSN must resolve to the same winner on every
    replay order, partitioning, and salting — the
    (lsn, lww_tie_expr) tie order. Null commits must stay
    discriminating (Spark hash functions skip NULL children, so a bare
    xxhash64(commit, op) would tie every null-commit pair — the rule
    falls back to hashing the content)."""
    import pandas as pd

    rows = [
        # conflicting pair at lsn=30 (different commit => different event)
        dict(lsn=30, op="update", repo="r", path="a.py", commit="bbb",
             lang="python", content="content-bbb"),
        dict(lsn=30, op="update", repo="r", path="a.py", commit="aaa",
             lang="python", content="content-aaa"),
        # earlier history for the same key (must never win)
        dict(lsn=10, op="insert", repo="r", path="a.py", commit="ccc",
             lang="python", content="v0"),
        # same commit, different op at one LSN: op joins the tie hash
        dict(lsn=20, op="delete", repo="r", path="b.py", commit="ddd",
             lang="python", content=None),
        dict(lsn=20, op="update", repo="r", path="b.py", commit="ddd",
             lang="python", content="kept"),
        dict(lsn=5, op="insert", repo="r", path="b.py", commit="eee",
             lang="python", content="v0"),
        # NULL-commit conflicting pair at one LSN: content must break
        # the tie deterministically
        dict(lsn=40, op="update", repo="r", path="c.py", commit=None,
             lang="python", content="null-commit-A"),
        dict(lsn=40, op="update", repo="r", path="c.py", commit=None,
             lang="python", content="null-commit-B"),
    ]
    # the pinned rule, computed with the engine's own shared tie hash:
    # per key the winner is max (lsn, lww_tie_expr) over its deliveries
    cols = ["lsn", "op", "repo", "path", "commit", "lang", "content"]
    expect = {
        r["path"]: r["content"]
        for r in spark.createDataFrame(pd.DataFrame(rows))
        .withColumn("tie", A.lww_tie_expr(cols))
        .groupBy("path")
        .agg(F.max_by(F.col("content"), F.struct("lsn", "tie")).alias("content"))
        .collect()
    }
    for perm in (rows, rows[::-1]):
        df = spark.createDataFrame(pd.DataFrame(perm))
        for hot in (None, [("r", "a.py"), ("r", "b.py"), ("r", "c.py")]):
            got = (
                A.lww_collapse(df, hot_keys=hot, n_salts=4)
                .orderBy("path")
                .toPandas()
            )
            assert list(got["path"]) == ["a.py", "b.py", "c.py"]
            # same winner under every input order and salt assignment
            assert dict(zip(got["path"], got["content"])) == expect
            # history never beats the tie LSN
            assert "v0" not in set(got["content"])


def test_cow_replay_with_empty_lsn_slice_does_not_hang(spark, tmp_path):
    """Sparse LSNs can slice an EMPTY micro-batch; CoW merge then commits
    without ever executing the observed plan, and Observation.get would
    block forever (it waits for an action, it does not raise). The replay
    must complete and converge anyway."""
    import pandas as pd
    from astro_data_pipeline_spark.lakehouse import LakeTable
    from pyspark.sql import types as T

    rows = []
    for i, lsn in enumerate([1, 2, 3, 900, 901]):  # ranges 2..3 of 4 are empty
        rows.append(
            dict(lsn=lsn, ts=pd.Timestamp("2025-01-01"), op="insert",
                 repo="r", path=f"p{i}.py", commit=f"c{i}", lang="python",
                 content=f"body {i}")
        )
    events = spark.createDataFrame(pd.DataFrame(rows))
    table = LakeTable.create(
        spark, str(tmp_path / "lake"), T.StructType(A.BASE_TABLE_FIELDS),
        A.KEY_COLS, n_buckets=4,
    )
    reports = CdcRunner(spark, table, run_id="sparse", mode="cow").replay(
        events, n_batches=4
    )
    assert len(reports) == 4 and all(r.status == "applied" for r in reports)
    assert table.read().count() == 5
    # empty slices committed real (empty) snapshots: resume skips them
    rerun = CdcRunner(spark, table, run_id="sparse2", mode="cow").replay(
        events, n_batches=4
    )
    assert all(r.status == "skipped" for r in rerun)


def test_hot_key_detection_ignores_quarantine_rows(spark, tmp_path):
    """A corrupt stripe (null repo/path) larger than hot_share must not
    crash the manifest join with a (None, None) 'hot key' nor inflate the
    sample's max_n."""
    import pandas as pd

    rows = [dict(lsn=i, op="update", repo=None, path=None, commit="x",
                 lang="python", content="junk") for i in range(1, 2001)]
    rows += [dict(lsn=2000 + i, op="update", repo="r", path=f"p{i % 50}",
                  commit="y", lang="python", content="ok") for i in range(1, 1001)]
    events = spark.createDataFrame(pd.DataFrame(rows))
    runner = CdcRunner(spark, None, run_id="nullhot")
    hot = runner.detect_hot_keys(events)
    assert hot == [] or all(r is not None and p is not None for r, p in hot)


def test_runner_rejects_unknown_mode(spark):
    # a real raise: an assert would vanish under python -O
    with pytest.raises(ValueError, match="'mor' or 'cow'"):
        CdcRunner(spark, None, mode="bogus")


def test_engine_jobs_carry_step_tags(spark, tmp_path, fixture_meta):
    """Every job a replay (pool threads included) and a view refresh
    submit carries an ``adps:<layer>.<step>`` job tag, beside the caller's
    own job group and description; a step whose body raises leaves the
    thread's tags as it found them."""
    from astro_data_pipeline_spark.lakehouse.matview import AggSpec, IncrementalAggView
    from astro_data_pipeline_spark.session import step

    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def jobs_after(floor: int) -> dict[int, tuple]:
        """job id -> (tags, job group, description) of every job above
        ``floor``, from the status store (newest first)."""
        jsc.listenerBus().waitUntilEmpty()
        opt = lambda o: o.get() if o.isDefined() else None  # noqa: E731
        out = {}
        for j in sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            jsc.statusStore().jobsList(None)
        ):
            if j.jobId() <= floor:
                break
            tags = set(j.jobTags().mkString(",").split(","))
            out[j.jobId()] = (tags, opt(j.jobGroup()), opt(j.description()))
        return out

    table = _new_table(spark, tmp_path)
    CdcRunner(spark, table, run_id="seed").replay(
        read_event_log(spark, fixture_meta["v1_path"]), n_batches=1
    )
    view = IncrementalAggView.create(
        spark, str(tmp_path / "mv"), table, ["repo"],
        [AggSpec("count", None, "n"), AggSpec("max", "last_lsn", "hi")],
    )
    jsc.listenerBus().waitUntilEmpty()
    floor = jsc.statusStore().jobsList(None).head().jobId()  # the newest job so far
    sc.setJobGroup("g", "d")
    try:
        CdcRunner(spark, table, run_id="tagged").replay(
            read_event_log(spark, fixture_meta["v2_path"]), n_batches=3
        )
        assert not view.refresh()["noop"]
    finally:
        sc._jsc.clearJobGroup()
    jobs = jobs_after(floor)
    assert jobs
    untagged = [j for j, (tags, _, _) in jobs.items()
                if not any(t.startswith("adps:") for t in tags)]
    assert untagged == []
    all_tags = set().union(*(tags for tags, _, _ in jobs.values()))
    assert {"adps:runner.write", "adps:table.mor_write", "adps:matview.delta",
            "adps:matview.merge"} <= all_tags
    # pool threads carry their own tags and none of the caller's group
    pool = {"adps:runner.write", "adps:runner.hot_keys"}
    main = [(g, d) for tags, g, d in jobs.values() if not tags & pool]
    assert main and all(gd == ("g", "d") for gd in main)

    before = set(sc.getJobTags())
    with pytest.raises(RuntimeError, match="boom"):
        with step(spark, "test.outer"):
            with step(spark, "test.outer"):  # already set: left to the outer
                pass
            assert "adps:test.outer" in sc.getJobTags()
            raise RuntimeError("boom")
    assert set(sc.getJobTags()) == before
