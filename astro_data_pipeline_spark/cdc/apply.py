"""Batch apply pipeline: validate → salted LWW collapse → sha256 → align.

The Spark restatement of the reference's per-file pipeline
(telescope_data_processing.py: discover → validate → process → catalog
upsert, SURVEY.md §3.1) as ONE lazy DataFrame plan per micro-batch:
no HTTP hops, no per-record job rows — boundaries collapse into stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

VALID_OPS = ("insert", "update", "delete")

# Lake table schema, pre-evolution (FIXTURES.md §1 + input_hint)
BASE_TABLE_FIELDS = [
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("content", T.StringType(), True),
    T.StructField("content_sha256", T.StringType(), True),
    T.StructField("last_lsn", T.LongType(), True),
]
KEY_COLS = ["repo", "path"]


def valid_predicate() -> F.Column:
    """The event-validity predicate (reference analog: validate_fits_files
    size/extension gates, telescope_data_processing.py:115-156).

    Coalesced to a real boolean: without it a row like op=NULL makes the
    predicate evaluate to SQL NULL, which ``filter(pred)`` drops but
    ``filter(~pred)`` ALSO drops (~NULL is NULL) — the row would vanish
    from both sides of every validate/quarantine split and from every
    quarantine counter built on ``~pred``."""
    return F.coalesce(
        F.col("op").isin(*VALID_OPS)
        & F.col("repo").isNotNull()
        & F.col("path").isNotNull()
        & F.col("lsn").isNotNull()
        & (F.col("content").isNotNull() | (F.col("op") == "delete")),
        F.lit(False),
    )


def validate_events(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Validation split: (valid, quarantine). One scan, disjoint filters
    that PARTITION the input (valid_predicate is never NULL)."""
    ok = valid_predicate()
    return events.filter(ok), events.filter(~ok)


def lww_tie_expr(columns, prefix: str = "") -> F.Column | None:
    """Deterministic LSN tie-break hash — THE shared rule for both the
    batch collapse and the streaming state twin (a private copy in either
    place could drift and make the two paths pick different winners on a
    malformed same-LSN conflict).

    ``commit`` is the natural discriminator (a content address), but it
    is nullable and Spark hash functions SKIP null children — two
    different null-commit events would hash identically. The null case
    falls back to hashing the content itself; ``coalesce`` evaluates the
    content only for null-commit rows, so the hot path still hashes two
    short primitives (the shape A/B-measured at parity with bare lsn).
    Returns None when no identity column is present (callers degrade to
    bare-lsn ordering)."""
    cols = []
    have = set(columns)
    if "commit" in have and "content" in have:
        cols.append(F.coalesce(F.col(prefix + "commit"), F.col(prefix + "content")))
    elif "commit" in have:
        cols.append(F.col(prefix + "commit"))
    elif "content" in have:
        cols.append(F.col(prefix + "content"))
    if "op" in have:
        cols.append(F.col(prefix + "op"))
    return F.xxhash64(*cols) if cols else None


def lww_collapse(
    events: DataFrame,
    hot_keys: list[tuple[str, str]] | None = None,
    n_salts: int = 8,
    bucket: F.Column | None = None,
) -> DataFrame:
    """LSN-ordered last-writer-wins: ≤1 row per (repo, path).

    Two-stage salted aggregation (north_rule skew handling):
      stage 1: groupBy(repo, path, salt) — a hot key's events split
               across ``n_salts`` reducers;
      stage 2: groupBy(repo, path) over the ≤n_salts per-salt winners.
    ``max_by`` is associative, so salting changes physical placement only
    (SURVEY.md §7 "salting correctness is contingent on pre-MERGE
    key-collapse" — the collapse IS this operator). Duplicate deliveries
    (same LSN, identical payload) collapse here too — idempotency.

    **LSN ties are deterministic** (SURVEY §7 hard case #2): the winner
    order is ``(lsn, lww_tie_expr(...))`` — a hash of
    ``(coalesce(commit, content), op)`` — not bare ``lsn``. An
    at-least-once redelivery is byte-identical, so any order works; a
    MALFORMED log carrying two different events under one LSN still
    resolves to the same winner on every replay, partitioning, salt
    assignment, and cluster (up to a 2^-64 hash collision between the
    conflicting pair — ``commit`` is a content address, so same commit ⇒
    same content; null commits hash the content itself). The tie key is
    two primitive longs: A/B-measured at sf1.0 against bare-lsn at
    parity (ratio 0.93 best-of-4 interleaved), whereas a string-struct
    comparator ((lsn, commit, op) directly) measured up to 19% slower —
    strings in the aggregation buffer are not free; a hashed primitive
    is. The streaming state twin carries the SAME rule (imported, not
    copied) so both paths crown one winner.

    With no hot keys the collapse is a SINGLE shuffle (map-side combine
    does the heavy lifting). With hot keys, stage 2 re-aggregates the
    stage-1 winners; cold keys arrive pre-collapsed (one row each) so
    stage 2's extra shuffle moves only already-collapsed data. The plan
    stays linear on purpose: a cold/hot branch-and-union would duplicate
    the upstream subtree (source scan + any ``observe`` node) and break
    observation-based metrics — measured 15-40x slower than the linear
    two-stage plan on a hot-burst batch.

    **Bucket fusion** (``bucket`` given): the sink wants output
    hash-clustered on the storage bucket — a deterministic function of
    the group keys. The final grouping becomes ``repartition(bucket)`` +
    ``groupBy(bucket, repo, path)``: HashPartitioning(bucket) already
    satisfies the aggregate's ClusteredDistribution, so ONE shuffle
    serves both the collapse and the sink alignment, and everything
    downstream (sha derivation, partitioned write) stays in that stage.
    The exchange carries no partition count: AQE sizes it from the
    measured map output, merging partitions but never splitting one, so
    each bucket still lands in one task and one file per commit.
    """
    payload = [c for c in events.columns if c not in ("repo", "path")]
    w = F.struct(*[F.col(c) for c in payload]).alias("w")
    fused = bucket is not None
    bkt = [F.col("_bucket")] if fused else []

    # deterministic order for LSN ties (see docstring + lww_tie_expr);
    # degrades to bare lsn only when no identity column is present
    def _ord(prefix: str = "") -> F.Column:
        t = lww_tie_expr(events.columns, prefix)
        if t is None:
            return F.col(prefix + "lsn")
        return F.struct(F.col(prefix + "lsn"), t.alias("tie"))

    if not hot_keys:
        src = (
            events.withColumn("_bucket", bucket).repartition(F.col("_bucket"))
            if fused
            else events
        )
        collapsed = src.groupBy(*bkt, "repo", "path").agg(
            F.max_by(w, _ord()).alias("w")
        )
        return collapsed.select(*bkt, "repo", "path", "w.*")

    # membership test on the composite key; \x1f never appears in names
    hot_tags = [f"{r}\x1f{p}" for r, p in hot_keys]
    salt = F.when(
        F.concat_ws("\x1f", "repo", "path").isin(*hot_tags),
        F.pmod(F.xxhash64("lsn"), F.lit(n_salts)),
    ).otherwise(F.lit(0))
    stage1 = (
        events.withColumn("_salt", salt)
        .groupBy("repo", "path", "_salt")
        .agg(F.max_by(w, _ord()).alias("w"))
    )
    if fused:
        stage1 = stage1.withColumn("_bucket", bucket).repartition(F.col("_bucket"))
    stage2 = stage1.groupBy(*bkt, "repo", "path").agg(
        F.max_by(F.col("w"), _ord("w.")).alias("w")
    )
    return stage2.select(*bkt, "repo", "path", "w.*")


def to_table_rows(collapsed: DataFrame, table_schema: T.StructType) -> DataFrame:
    """Derive table columns (sha256 invariant, last_lsn) and align the
    source to the target schema: missing table columns null-fill (the
    additive-evolution contract), extra event columns drop. Keeps ``op``
    for MERGE routing.

    The sha256 is the JVM ``sha2`` expression, bit-identical to the
    Arrow twin ``sha256_arrow`` (equality-tested in
    tests/test_cdc_engine.py): the winner content stays inside
    whole-stage codegen instead of round-tripping JVM→Arrow→Python→JVM —
    two full copies of every winner's payload across the memory bus that
    matter exactly when all cores contend for it (the 8→32 scaling rung).
    The Arrow twin stays on the query surface, where it is the measured
    operator."""
    out = collapsed.withColumn(
        "content_sha256",
        F.when(F.col("op") != "delete", F.sha2(F.col("content"), 256)),
    ).withColumn("last_lsn", F.col("lsn"))
    present = set(out.columns)
    cols = []
    for f in table_schema.fields:
        if f.name in present:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return out.select(*cols, F.col("op"))
