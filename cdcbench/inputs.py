"""Seeded workload inputs, cached per (workload, seed, FIXTURE_VERSION).

Every log comes from ``cdc.fixtures.generate_change_log(seed=...)``. On
top of it the benchmark plants a few invalid events (``op='truncate'``)
so the quarantine path does real work and its count can be checked, and
it precomputes the pandas oracle state so no run waits for it. The cache
lives under the benchmark's work directory, apart from ``bench.py``'s
seedless ``.bench/`` cache; a cache miss is reported as ``inputs_build_s``, not
as set-up time, because the first and later runs of one seed differ only
there.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from astro_data_pipeline_spark.cdc.fixtures import FIXTURE_VERSION, generate_change_log
from astro_data_pipeline_spark.cdc.oracle import replay_reference
from astro_data_pipeline_spark.streaming.replay import EVENT_SCHEMA

# Events per workload log (keys = events / 5 and repos = events / 3000,
# the shape bench.py uses at every scale factor). README "Sizing" gives
# the reasons.
SIZES = {
    "bulk_replay": 15_000,
    "stream_view": 10_000,
}
VIEW_BASE_SHARE = 0.5
VIEW_SLICES = 3
INVALID_SHARE = 0.001
# Bump when what _build writes changes; part of the cache key.
INPUTS_VERSION = 6

# Segment files carry the stream schema's Arrow types explicitly: pandas
# writes an all-null ``lang_meta`` column as INT32, which the stream scan
# then rejects (SchemaColumnConvertNotSupportedException).
ARROW_EVENT_SCHEMA = to_arrow_schema(EVENT_SCHEMA)
VALID_OPS = ("insert", "update", "delete")
_PARQUET_KW = dict(
    index=False, coerce_timestamps="us", allow_truncated_timestamps=True,
    row_group_size=32768,
)


@dataclass
class Inputs:
    dir: str
    meta: dict
    build_s: float | None  # seconds spent generating; None on a cache hit

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    @property
    def log_paths(self) -> list[str]:
        return [self.path("change_events_v1.parquet"), self.path("change_events_v2.parquet")]

    def events(self, columns: list[str] | None = None) -> pd.DataFrame:
        """Every delivered event (duplicates and planted invalid rows
        included), in log file order."""
        frames = [pd.read_parquet(p, columns=columns) for p in self.log_paths]
        return pd.concat(frames, ignore_index=True)

    def oracle(self, name: str = "oracle.parquet") -> pd.DataFrame:
        return pd.read_parquet(self.path(name))


def is_valid(ev: pd.DataFrame) -> pd.Series:
    """The event-validity rule, restated in pandas: a known op, non-null
    key and LSN, and content unless the op is a delete."""
    return (
        ev["op"].isin(VALID_OPS)
        & ev["repo"].notna()
        & ev["path"].notna()
        & ev["lsn"].notna()
        & (ev["content"].notna() | (ev["op"] == "delete"))
    )


def oracle_state(ev: pd.DataFrame) -> pd.DataFrame:
    """Expected table state for a set of delivered events."""
    return replay_reference(ev[is_valid(ev)])


def _plant_invalid(path: str, rng: np.random.Generator) -> int:
    """Insert invalid copies of a few events, each right after its
    source row (LSN + 5: the generator's LSNs step by 10, so the copy
    collides with no real event and disorder stays bounded)."""
    df = pd.read_parquet(path)
    k = max(int(len(df) * INVALID_SHARE), 2)
    src = np.sort(rng.choice(len(df), size=k, replace=False))
    bad = df.iloc[src].copy()
    bad["op"] = "truncate"
    bad["lsn"] = bad["lsn"] + 5
    pos = np.concatenate([np.arange(len(df), dtype=float), src + 0.5])
    out = pd.concat([df, bad], ignore_index=True).iloc[np.argsort(pos, kind="stable")]
    out.to_parquet(path, **_PARQUET_KW)
    return k


def _build(workload: str, seed: int, out: str) -> dict:
    n_events = SIZES[workload]
    gen = generate_change_log(
        out,
        n_repos=max(n_events // 3000, 20),
        n_keys=n_events // 5,
        n_events=n_events,
        seed=seed,
    )
    rng = np.random.default_rng(seed)
    n_invalid = sum(
        _plant_invalid(os.path.join(out, f), rng)
        for f in ("change_events_v1.parquet", "change_events_v2.parquet")
    )
    inputs = Inputs(out, {}, None)
    ev = inputs.events()
    meta = {
        "workload": workload,
        "seed": seed,
        "fixture_version": FIXTURE_VERSION,
        "n_events": int(len(ev)),
        "n_invalid": n_invalid,
        "n_keys": gen["n_keys"],
        "evolution_lsn": gen["evolution_lsn"],
    }
    if workload == "bulk_replay":
        oracle_state(ev).to_parquet(os.path.join(out, "oracle.parquet"), index=False)
    if workload == "stream_view":
        # WAL segment k holds LSNs in (cuts[k-1], cuts[k]]: segment 0 is
        # the base (up to cuts[0]), segments 1.. are the slices, each
        # with the oracle state after it
        lsns = np.sort(ev["lsn"].to_numpy())
        shares = np.linspace(VIEW_BASE_SHARE, 1.0, VIEW_SLICES + 1)
        cuts = [int(lsns[int(len(lsns) * s) - 1]) for s in shares]
        meta["cuts"] = cuts
        seg = ev.astype({"lang_meta": object})
        seg["ts"] = seg["ts"].dt.tz_localize("UTC")
        os.makedirs(os.path.join(out, "segments"))
        meta["segments"] = []
        for k, (a, b) in enumerate(zip([None] + cuts, cuts)):
            in_seg = ev["lsn"] <= b if a is None else (ev["lsn"] > a) & (ev["lsn"] <= b)
            name = f"seg-{k:05d}.parquet"
            pq.write_table(
                pa.Table.from_pandas(seg[in_seg], schema=ARROW_EVENT_SCHEMA, preserve_index=False),
                os.path.join(out, "segments", name),
            )
            meta["segments"].append(name)
            if k:
                oracle_state(ev[ev["lsn"] <= b]).to_parquet(
                    os.path.join(out, f"oracle_cut{k}.parquet"), index=False
                )
    return meta


def load(workload: str, seed: int, work_dir: str) -> Inputs:
    """The workload's inputs for ``seed``: from the cache, or generated
    into a private directory and published with one rename."""
    target = os.path.join(work_dir, "inputs", f"{workload}-s{seed}-v{FIXTURE_VERSION}.{INPUTS_VERSION}")
    meta_path = os.path.join(target, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return Inputs(target, json.load(f), None)
    t0 = time.perf_counter()
    tmp = f"{target}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        meta = _build(workload, seed, tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(target, ignore_errors=True)
        os.rename(tmp, target)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return Inputs(target, meta, time.perf_counter() - t0)
