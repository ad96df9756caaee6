"""Behavioral properties of chunking + winnowing fingerprints.

The DuckDB value comparison runs in test_queries_vs_oracle; here we pin
the properties the oracle can't express: chunk coverage/overlap
invariants, fingerprint determinism, and the shared-substring detection
guarantee that makes winnowing useful for overlap mining.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from astro_data_pipeline_spark.textops.chunking import (
    _CHUNK_STRIDE,
    _CHUNK_TOKENS,
    _WIN_K,
    _WIN_W,
    text_chunk_sliding_windows,
    text_winnowing_fingerprints,
)

SF = "/root/testdata/sf0.01"


def _docs_dir(tmp_path, rows):
    """Write a miniature documents table shaped like the testdata one."""
    d = tmp_path / "corpus"
    d.mkdir()
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": ["unit"] * len(rows),
            "n_chars": [len(r[1]) for r in rows],
        }
    ).to_parquet(d / "documents.parquet")
    return str(d)


def test_chunks_cover_every_token_with_fixed_overlap(spark):
    out = text_chunk_sliding_windows(spark, SF)
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("text").isNotNull() & (F.trim("text") != ""))
        .select("doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n"))
    )
    agg = (
        out.groupBy("doc_id")
        .agg(
            F.max(F.col("chunk_start") + F.col("n_chunk_tokens") - 1).alias("covered"),
            F.count("*").alias("n_chunks"),
            F.min("n_chunk_tokens").alias("min_len"),
        )
        .join(docs, "doc_id")
        .collect()
    )
    assert agg
    overlap = _CHUNK_TOKENS - _CHUNK_STRIDE
    for r in agg:
        # last chunk reaches the final token; no chunk is empty
        assert r["covered"] == r["n"], r
        assert r["min_len"] >= 1
        # chunk count matches the closed form: a final window that would
        # be a strict SUBSET of the previous one (doc ends inside the
        # overlap region) is not emitted
        assert r["n_chunks"] == max(0, (r["n"] - overlap - 1) // _CHUNK_STRIDE) + 1, r
    # no chunk is a subset of its predecessor: every chunk_id > 0 chunk
    # must extend past the overlap carried from the previous window
    trailing = out.filter(F.col("chunk_id") > 0).agg(
        F.min("n_chunk_tokens")
    ).collect()[0][0]
    assert trailing is None or trailing > overlap, trailing


def test_winnowing_detects_shared_substring(spark, tmp_path):
    """Any two documents sharing a long token run must share at least one
    selected fingerprint hash — the detection guarantee fingerprint
    sampling exists for. The shared run is embedded at DIFFERENT offsets
    so position alignment can't help."""
    shared = " ".join(f"shared{i}" for i in range(4 * _WIN_W + _WIN_K))
    a = "alpha beta " + shared + " gamma delta epsilon"
    b = " ".join(f"pre{i}" for i in range(7)) + " " + shared
    c = " ".join(f"uniq{i}" for i in range(40))  # no overlap control
    sf = _docs_dir(tmp_path, [(1, a), (2, b), (3, c)])
    fp = text_winnowing_fingerprints(spark, sf).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], set()).add(r["gram_hash"])
    assert by_doc[1] & by_doc[2], "shared run produced no common fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_winnowing_is_deterministic_and_subsampled(spark):
    q = text_winnowing_fingerprints
    a = sorted(map(tuple, q(spark, SF).collect()))
    b = sorted(map(tuple, q(spark, SF).collect()))
    assert a == b
    # density: selected fingerprints are a strict subsample of grams —
    # expectation 1/(2w-1); allow a generous band around it
    n_grams = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("text").isNotNull() & (F.trim("text") != ""))
        .select(
            F.greatest(
                F.size(F.split(F.trim("text"), r"\s+")) - (_WIN_K - 1), F.lit(0)
            ).alias("g")
        )
        .agg(F.sum("g"))
        .collect()[0][0]
    )
    density = len(a) / n_grams
    lo, hi = 0.3 / (2 * _WIN_W - 1), 3.0 / (2 * _WIN_W - 1)
    assert lo <= density <= hi, density


def test_substring_overlap_pairs_find_the_quote(spark, tmp_path):
    """A verbatim quote embedded in two otherwise-unrelated documents
    must surface as an overlap pair; unrelated docs must not pair."""
    from astro_data_pipeline_spark.textops.chunking import (
        dedup_substring_overlap_pairs,
    )

    quote = " ".join(f"quote{i}" for i in range(8 * _WIN_W))
    rows = [
        (1, " ".join(f"a{i}" for i in range(12)) + " " + quote),
        (2, quote + " " + " ".join(f"b{i}" for i in range(12))),
        (3, " ".join(f"c{i}" for i in range(60))),
    ]
    sf = _docs_dir(tmp_path, rows)
    got = {(r["doc_a"], r["doc_b"]): r["n_shared"]
           for r in dedup_substring_overlap_pairs(spark, sf).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 2, got
    assert all(3 not in k for k in got), got


def test_duplicate_passage_windows_match_python_slices(spark, tmp_path):
    """``dedup_duplicate_passage_fraction`` cuts each doc into
    floor(len/16) disjoint 16-word passages. Docs under 16 words, exact
    multiples of 16 and 16k±1 words are checked against a pure-Python
    split/slice model: passage counts, cross-doc duplicate counts and the
    rounded fraction. Shared 16-word blocks are placed at and off the
    window boundaries, so a window that slips by one word changes the
    duplicate counts."""
    import math
    import random

    from astro_data_pipeline_spark.textops.dedup import (
        _PASSAGE_WORDS as W,
        dedup_duplicate_passage_fraction,
    )

    rng = random.Random(7)
    blocks = [[f"s{b}w{i}" for i in range(W)] for b in range(3)]
    lengths = [1, 2, 7, 15] + [W * k + d for k in (1, 2, 3, 5) for d in (-1, 0, 1)]
    rows, uniq = [], 0
    for doc_id, n in enumerate(lengths * 2):
        ws = []
        while len(ws) < n:
            if rng.random() < 0.5:
                ws += blocks[rng.randrange(len(blocks))]
            else:
                k = rng.choice((1, 3, W))
                ws += [f"u{uniq + i}" for i in range(k)]
                uniq += k
        rows.append((doc_id, " ".join(ws[:n])))

    passages = {}
    for doc_id, text in rows:
        ws = text.split(" ")
        passages[doc_id] = [
            " ".join(ws[p * W:(p + 1) * W]) for p in range(len(ws) // W)
        ]
    holders = {}
    for doc_id, ps in passages.items():
        for p in ps:
            holders.setdefault(p, set()).add(doc_id)
    want = {}
    for doc_id, ps in passages.items():
        if ps:
            dup = sum(len(holders[p]) >= 2 for p in ps)
            want[doc_id] = (len(ps), dup, math.floor(dup / len(ps) * 1e6 + 0.5) / 1e6)
    assert any(0 < d < n for n, d, _ in want.values())

    got = {
        r["doc_id"]: (r["n_passages"], r["n_dup_passages"], r["dup_passage_fraction"])
        for r in dedup_duplicate_passage_fraction(spark, _docs_dir(tmp_path, rows)).collect()
    }
    assert got.keys() == want.keys()
    for doc_id, (n, dup, frac) in want.items():
        assert got[doc_id][:2] == (n, dup), (doc_id, got[doc_id], want[doc_id])
        assert float(got[doc_id][2]) == frac, (doc_id, got[doc_id], want[doc_id])
