"""Physical-plan assertions — the 100 TB contract, pinned.

Correctness tests prove the small-SF answers; these tests prove the PLAN
is the one that survives a 1000-executor scale-up: filters reach the
parquet scan, projections prune columns, small dims broadcast, top-k
avoids a global sort, and the CDC collapse runs in exactly ONE shuffle.
A regression here is invisible at sf0.001 and fatal at 100 TB.
"""

from __future__ import annotations

import pytest

from astro_data_pipeline_spark import registry
from astro_data_pipeline_spark.cdc import apply as A
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan(df, mode: str = "formatted") -> str:
    # mirror DataFrame.explain()'s implementation, but return the string
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_time_filter_pushed_to_scan(spark):
    df = registry.get("filter_time_window_recent_events").fn(spark, SF)
    p = plan(df)
    assert "PushedFilters: [" in p
    # the ts bound must appear inside the scan's pushed filters, not only
    # as a post-scan Filter node
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("ts" in ln and "[]" not in ln for ln in pushed), pushed


def test_projection_prunes_scan_columns(spark):
    df = registry.get("scalar_sha256_documents").fn(spark, SF)
    p = plan(df)
    schemas = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert schemas, p
    # the documents table carries text/meta columns the query never touches
    assert all("quality" not in ln for ln in schemas), schemas


def test_json_wal_parse_evaluates_once(spark):
    """The quarantine filter must not re-inline the JSON parse below the
    projection (PushDownPredicate duplicating to_json+from_json per row
    — the filter-below-projection pitfall). The generator barrier keeps
    exactly one parse and one serialize in the physical plan."""
    df = registry.get("cdc_json_wal_source").fn(spark, SF)
    p = plan(df, mode="simple")
    assert p.count("from_json") == 1, p
    assert p.count("StructsToJsonEvaluator") == 1, p


def test_small_dim_join_broadcasts(spark):
    df = registry.get("join_fact_dim_revenue_by_brand").fn(spark, SF)
    assert "BroadcastHashJoin" in plan(df, "simple")


def test_topk_avoids_global_sort(spark):
    df = registry.get("sort_topk_global_orders").fn(spark, SF)
    assert "TakeOrderedAndProject" in plan(df, "simple")


def test_keyset_pagination_has_no_global_window(spark):
    """True keyset pagination must plan as TakeOrderedAndProject with the
    cursor predicate pushed to the scan — a global row_number Window (the
    OFFSET anti-pattern) funnels the whole table through ONE task."""
    df = registry.get("sort_keyset_pagination_page3").fn(spark, SF)
    p = plan(df, "simple")
    assert "TakeOrderedAndProject" in p, p
    assert "Window" not in p, p
    assert "SinglePartition" not in p, p
    fp = plan(df)
    pushed = [ln for ln in fp.splitlines() if "PushedFilters" in ln]
    assert any("GreaterThan(o_orderkey" in ln for ln in pushed), pushed


def test_three_way_join_broadcasts_both_dims(spark):
    df = registry.get("join_three_way_nation_revenue").fn(spark, SF)
    p = plan(df, "simple")
    # nation and customer/supplier dims are small: no sort-merge join may
    # survive planning at this shape
    assert "BroadcastHashJoin" in p


def _fixture_events(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "lsn": range(1, 101),
            "ts": pd.Timestamp("2026-01-01"),
            "op": ["insert"] * 100,
            "repo": [f"r{i % 5}" for i in range(100)],
            "path": [f"p{i}" for i in range(100)],
            "commit": "c",
            "lang": "py",
            "content": "x",
        }
    )
    return spark.createDataFrame(pdf)


def _assert_bucket_exchange_sized_by_aqe(p: str) -> None:
    """The bucket exchange carries no partition count (REPARTITION_BY_COL,
    which AQE may coalesce), and no fixed-width REPARTITION_BY_NUM
    exchange is left to pin the write stage at one task per bucket."""
    assert "REPARTITION_BY_COL" in p, p
    assert "REPARTITION_BY_NUM" not in p, p


def test_cdc_collapse_is_single_shuffle(spark):
    """The bucket-fused LWW collapse must plan exactly ONE Exchange when
    no hot keys need salting: the repartition on the storage bucket
    satisfies the aggregation's required distribution (the fusion claim
    in cdc/apply.py — if Catalyst ever stops recognizing it, a second
    content-bearing shuffle appears and write cost doubles at scale)."""
    from astro_data_pipeline_spark.cdc.runner import CdcRunner
    from astro_data_pipeline_spark.lakehouse import LakeTable
    from pyspark.sql import types as T
    import tempfile, os

    events = _fixture_events(spark)
    with tempfile.TemporaryDirectory() as td:
        table = LakeTable.create(
            spark, os.path.join(td, "lake"), T.StructType(A.BASE_TABLE_FIELDS),
            A.KEY_COLS, n_buckets=8,
        )
        runner = CdcRunner(spark, table, run_id="plan", mode="mor")
        snap = table.current_snapshot()
        _, rows = runner._build_rows(events, snap, hot=[])
        p = plan(rows, "simple")
        assert p.count("Exchange") == 1, p
        _assert_bucket_exchange_sized_by_aqe(p)


def test_cdc_collapse_salted_adds_one_stage(spark):
    """With hot keys, the salted pre-collapse adds exactly one more
    shuffle (stage-1 salted agg) — never more."""
    from astro_data_pipeline_spark.cdc.runner import CdcRunner
    from astro_data_pipeline_spark.lakehouse import LakeTable
    from pyspark.sql import types as T
    import tempfile, os

    events = _fixture_events(spark)
    with tempfile.TemporaryDirectory() as td:
        table = LakeTable.create(
            spark, os.path.join(td, "lake"), T.StructType(A.BASE_TABLE_FIELDS),
            A.KEY_COLS, n_buckets=8,
        )
        runner = CdcRunner(spark, table, run_id="plan", mode="mor")
        snap = table.current_snapshot()
        _, rows = runner._build_rows(events, snap, hot=[("r0", "p0")])
        p = plan(rows, "simple")
        assert p.count("Exchange") == 2, p
        _assert_bucket_exchange_sized_by_aqe(p)


def _replayed_mor_table(spark, tmp_path):
    """An 8-bucket table whose buckets hold base files AND MoR deltas."""
    from astro_data_pipeline_spark.cdc.runner import CdcRunner, read_event_log
    from astro_data_pipeline_spark.cdc.fixtures import generate_change_log
    from astro_data_pipeline_spark.lakehouse import LakeTable
    from pyspark.sql import types as T

    meta = generate_change_log(str(tmp_path / "fx"), n_repos=5, n_keys=50, n_events=400)
    table = LakeTable.create(
        spark, str(tmp_path / "lake"), T.StructType(A.BASE_TABLE_FIELDS),
        A.KEY_COLS, n_buckets=8,
    )
    events = read_event_log(spark, meta["v1_path"], meta["v2_path"])
    CdcRunner(spark, table, run_id="r1", mode="mor").replay(events, n_batches=2)
    table.compact()
    stored = table.read().orderBy("repo", "path").limit(20)
    table.merge_mor(stored.withColumn("op", F.lit("update")))
    assert table.current_snapshot().delta_files and table.current_snapshot().files
    return table


def _written_plan(monkeypatch, op) -> str:
    """The plan of the one DataFrame ``op`` hands the bucket writer."""
    from astro_data_pipeline_spark.lakehouse import LakeTable

    plans, write = [], LakeTable._write_buckets

    def spy(self, df, *args, **kwargs):
        plans.append(plan(df, "simple"))
        return write(self, df, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "_write_buckets", spy)
    op()
    assert len(plans) == 1, plans
    return plans[0]


def test_cow_merge_is_single_shuffle(spark, tmp_path, monkeypatch):
    """A copy-on-write merge is a compaction of its touched buckets with
    the batch as their newest delta: the batch, the base files and the
    MoR deltas resolve and bucket-align in ONE exchange (no join of the
    batch against a separately resolved base)."""
    from astro_data_pipeline_spark.lakehouse.table import bucket_expr

    table = _replayed_mor_table(spark, tmp_path)
    snap = table.current_snapshot()
    rows = table.read().orderBy("repo", "path").limit(12).collect()
    stored = spark.createDataFrame(rows, snap.schema)
    updates = stored.withColumn(
        "op", F.when(F.col("path").endswith("1"), "delete").otherwise("update")
    ).unionByName(
        stored.withColumn("path", F.concat("path", F.lit("-new"))).withColumn(
            "op", F.lit("insert")
        )
    )
    touched = updates.select(bucket_expr(snap.key_cols, snap.n_buckets)).distinct()
    assert {str(r[0]) for r in touched.collect()} & set(snap.delta_files)
    p = _written_plan(monkeypatch, lambda: table.merge(updates))
    assert p.count("Exchange") == 1, p
    _assert_bucket_exchange_sized_by_aqe(p)


def test_compaction_resolve_is_single_shuffle(spark, tmp_path, monkeypatch):
    """Bucket-fused MoR resolution: compaction's LWW resolve + write
    alignment must share ONE exchange (unfused it pays two full passes of
    the victim set through the shuffle)."""
    table = _replayed_mor_table(spark, tmp_path)
    p = _written_plan(monkeypatch, table.compact)
    assert p.count("Exchange") == 1, p
    _assert_bucket_exchange_sized_by_aqe(p)


def test_rebucket_resolve_is_single_shuffle(spark, tmp_path, monkeypatch):
    """rebucket resolves the deltas under the NEW bucket count in the
    same exchange that aligns the write (not a resolved read followed by
    a second repartition)."""
    table = _replayed_mor_table(spark, tmp_path)
    p = _written_plan(monkeypatch, lambda: table.rebucket(4))
    assert p.count("Exchange") == 1, p
    _assert_bucket_exchange_sized_by_aqe(p)


def _assert_one_key_exchange_no_join(p: str) -> None:
    exchanges = [ln for ln in p.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, p
    assert "hashpartitioning(repo#" in exchanges[0], exchanges
    assert "path#" in exchanges[0], exchanges
    for node in ("BroadcastHashJoin", "SortMergeJoin", "BroadcastExchange"):
        assert node not in p, (node, p)


def test_changes_is_one_key_aggregation(spark, tmp_path):
    """changes() applies the in-range deltas onto the ``from`` files in
    one LWW aggregation: one exchange, on the key columns, and no join
    (no separate net-winner pass, no existence probe joined back) — also
    across an in-range rebucket, where the ``from`` scan is unpruned."""
    table = _replayed_mor_table(spark, tmp_path)
    s_from = table.current_snapshot().snapshot_id
    stored = table.read().orderBy("repo", "path").limit(10)
    table.merge_mor(
        stored.withColumn("op", F.when(F.col("path").endswith("1"), "delete").otherwise("update"))
    )
    cols = ["last_lsn", "lang"]
    p = plan(table.changes(s_from, with_preimage=True, columns=cols), "simple")
    _assert_one_key_exchange_no_join(p)
    assert "content" not in p, p

    table.rebucket(4)
    table.merge_mor(stored.withColumn("op", F.lit("update")))
    p = plan(table.changes(s_from, with_preimage=True, columns=cols), "simple")
    _assert_one_key_exchange_no_join(p)


def test_lsn_range_prunes_row_groups(spark, tmp_path):
    """The per-batch LSN predicate must reach the event-log scan as a
    pushed filter so parquet row-group min/max stats can skip ~(1 - 1/n)
    of the log per batch."""
    import pandas as pd

    path = str(tmp_path / "log.parquet")
    pd.DataFrame({"lsn": range(10000), "repo": "r", "content": "x"}).to_parquet(
        path, index=False, row_group_size=1000
    )
    df = spark.read.parquet(path).filter((F.col("lsn") > 2000) & (F.col("lsn") <= 3000))
    p = plan(df)
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("GreaterThan(lsn" in ln for ln in pushed), pushed


def test_json_wal_source_has_no_shuffle(spark):
    """The WAL envelope parse is scan-side per-executor work: at 10^10
    events any Exchange in the source would shuffle the whole log."""
    df = registry.get("cdc_json_wal_source").fn(spark, SF)
    assert "Exchange" not in plan(df, "simple")


def test_pack_sequences_window_is_partitioned(spark):
    """The packing prefix-sum must run per shard — a global-ordered
    window would single-task the whole corpus."""
    df = registry.get("sample_pack_sequences").fn(spark, SF)
    p = plan(df, "simple")
    assert "Window" in p
    # every window spec must carry the shard partition key
    win_lines = [ln for ln in p.splitlines() if "Window" in ln and "windowspec" not in ln]
    assert all("shard" in ln for ln in win_lines), win_lines


def test_tfidf_doc_freq_joins_broadcast(spark):
    """The vocabulary-sized document-frequency table must broadcast;
    tf (corpus-sized) must never be on the build side twice."""
    df = registry.get("text_tfidf_top_terms").fn(spark, SF)
    assert "BroadcastHashJoin" in plan(df, "simple")


def test_chunking_and_winnowing_have_no_shuffle(spark):
    """Both per-document text operators must stay pure map + generator:
    chunk boundaries and fingerprint selection are derived from the
    row's own token array, so ANY Exchange in the plan means a
    corpus-sized shuffle crept in."""
    for name in ("text_chunk_sliding_windows", "text_winnowing_fingerprints"):
        p = plan(registry.get(name).fn(spark, SF))
        assert "Exchange" not in p, (name, p)


def test_token_budget_window_reads_pruned_projection(spark):
    """The per-source prefix-sum window must shuffle only the slim
    (doc_id, source, n_tokens, hash) projection — the scan may read the
    text column to size it, but no other payload column survives."""
    p = plan(registry.get("sample_token_budget_per_source").fn(spark, SF))
    schemas = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert schemas and all("lang" not in ln and "n_chars" not in ln for ln in schemas), schemas
    # window partitioned by source, not a global-order window
    assert "hashpartitioning(source" in p, p


def test_unigram_rarity_vocab_joins_broadcast(spark):
    """The vocabulary aggregate is vocab-sized (<< corpus) and must come
    back onto the tf table as a broadcast join, never a sort-merge
    shuffle of corpus-token rows."""
    p = plan(registry.get("text_unigram_rarity_score").fn(spark, SF), "simple")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_repetition_filter_has_no_shuffle(spark):
    """All repetition statistics are per-document and computed in-row;
    an Exchange means the corpus-bigram shuffle came back."""
    p = plan(registry.get("text_repetition_filter").fn(spark, SF))
    assert "Exchange" not in p, p


def test_quality_verdict_has_no_shuffle(spark):
    """The assembled filter verdict is one in-row decision table — any
    Exchange means a per-doc feature regressed to an aggregation."""
    p = plan(registry.get("text_quality_filter_verdict").fn(spark, SF))
    assert "Exchange" not in p, p


# --------------------------------------------------- registry-wide audit

# Intentional nested-loop joins: a 1-row broadcast (global min joined
# back onto per-stratum counts) and the documented exact-baseline
# probe×corpus cross join. Everything else must justify itself here.
_BNLJ_ALLOWED = {"sample_balanced_mixture", "sim_cosine_topk_bruteforce"}

# Intentional unpartitioned ordered windows: the golden-subset quality
# ranking ranks a set bounded by CONSTRUCTION (doc_id % 51 == 0 and
# doc_id <= 4999 → ≤99 rows at any corpus size), so the single-task
# window is a driver-bounded op, not a global sort over the catalog —
# the full-catalog ranking (img_quality_ranking_full, bench-only) keeps
# the range-partitioned sort. Everything else must justify itself here.
_GLOBAL_WINDOW_ALLOWED = {"img_quality_ranking"}


def test_registry_wide_plan_red_flags(spark):
    """Every registered query's physical plan, swept for the three
    structural patterns that are invisible at test SF and fatal at
    100 TB: a cartesian product, an unintended nested-loop join, a
    Filter whose condition inlines a higher-order-function lambda
    (Catalyst pushed a predicate below a projection and re-inlined a
    heavy array expression — subexpressions are NOT deduplicated inside
    lambdas, measured 60× on text_benchmark_contamination), and a
    window function ordered over an unpartitioned spec (single-task
    global sort)."""
    import re

    def _first_window_arg(p: str, start: int) -> str:
        """First TOP-LEVEL comma-separated argument of the
        windowspecdefinition at ``start`` (balanced-paren scan — the arg
        itself may contain calls like cast(x as double))."""
        depth = 0
        for i in range(start, min(start + 2000, len(p))):
            c = p[i]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    return p[start:i]
                depth -= 1
            elif c == "," and depth == 0:
                return p[start:i]
        return p[start:start + 2000]

    order_tail = re.compile(r" (ASC|DESC) NULLS (FIRST|LAST)$")
    bad: dict[str, list[str]] = {}
    for name in registry.all_queries():
        p = plan(registry.get(name).fn(spark, SF))
        f = []
        if "CartesianProduct" in p:
            f.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in p and name not in _BNLJ_ALLOWED:
            f.append("BroadcastNestedLoopJoin")
        # \b not \s*$: codegen'd Filter headers read "(N) Filter [codegen id : M]"
        for m in re.finditer(r"^\(\d+\) Filter\b", p, re.M):
            cond = p[m.start():].split("Condition :", 1)
            if len(cond) > 1 and "lambdafunction" in cond[1].split("\n(", 1)[0]:
                f.append("Filter with inlined lambda expression")
                break
        for m in re.finditer(r"windowspecdefinition\(", p):
            first = _first_window_arg(p, m.end()).strip()
            if order_tail.search(first) and name not in _GLOBAL_WINDOW_ALLOWED:
                f.append("unpartitioned ordered window")
                break
        if f:
            bad[name] = f
    assert not bad, bad


def test_coordinate_transforms_are_pure_map(spark):
    """Every astrometric transform is an in-row column expression: the
    whole query must plan as scan + project with ZERO Exchanges and zero
    Python evaluation nodes (no BatchEvalPython / ArrowEvalPython)."""
    p = plan(registry.get("scalar_coordinate_transforms").fn(spark, SF))
    assert "Exchange" not in p, p
    assert "EvalPython" not in p, p


def test_split_leakage_has_no_cartesian_product(spark):
    """The leakage detector must stay equi-join-only at every stage:
    sha self-join, shingle posting self-join, pair–split joins. A
    CartesianProduct or BroadcastNestedLoopJoin here is the quadratic
    all-pairs comparison the design exists to avoid."""
    df = registry.get("sample_split_leakage_pairs").fn(spark, SF)
    p = plan(df, "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_ivf_multiprobe_probe_side_broadcasts(spark):
    """The multiprobe search's candidate join must broadcast the (tiny,
    nprobe-fanned) probe side — the corpus never shuffles on cell."""
    df = registry.get("sim_ivf_multiprobe_topk").fn(spark, SF)
    p = plan(df, "simple")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p
