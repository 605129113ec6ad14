"""Seeded input staging: envelope files for the route workload and
row-permuted table copies for the fold workload, both from the
vendored events table.

Inputs are written with pyarrow, not Spark, so staging costs no Spark
job and the engine sees only finished files. Each file carries exact
per-file quotas of every outcome class and of stale records; the seed
decides which rows land in which file and in what order, so every
seed gives the same counts and the same amount of work.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Arrow twin of ziggurat_spark.envelope.ENVELOPE_SCHEMA
ENVELOPE_ARROW = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        (
            "headers",
            pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())])),
        ),
        ("attempt", pa.int32()),
    ]
)

#: records older than this are stamped stale: well past the engine's
#: 7-day T2 horizon, so the filter drops them whatever the run's clock
STALE_AGE_S = 30 * 86_400

#: an event's outcome class is set by ``event_id % ID_BLOCK``: each
#: class owns the ids in [previous bound, bound). A block of 1,000
#: consecutive ids holds 86% success, 2% each skip, retry and
#: dead-letter, 3% channel and 5% stale; those are also the exact
#: quotas of every staged file.
ID_BLOCK = 1_000
CLASS_BOUNDS = (
    ("success", 860),
    ("skip", 880),
    ("retry", 900),
    ("dead", 920),
    ("channel", 950),
    ("stale", 1_000),
)


def _rng(seed: int) -> np.random.Generator:
    """A generator for any integer seed (numpy rejects negative ones)."""
    return np.random.default_rng(seed & (2**64 - 1))


def _json_row(row: dict) -> bytes:
    row = dict(row, ts=row["ts"].isoformat())
    return json.dumps(row).encode()


def stage_envelopes(
    events_path: str,
    out_dir: str,
    n_files: int,
    seed: int,
    now_s: float,
) -> None:
    """Write ``n_files`` parquet files of ID_BLOCK envelopes
    into ``out_dir`` (created). Each envelope's value is one row of the
    events table as JSON; the seed permutes the rows of every outcome
    class and decides which land in which file and in what order, so
    every seed gives the same per-file quotas (CLASS_BOUNDS). Envelope
    timestamps are stamped relative to ``now_s``, 30 days older for the
    stale class; offsets run from 0.

    File names sort in write order, so ``maxFilesPerTrigger=1`` drains
    them one per trigger in that order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed)
    events = pq.read_table(events_path)
    block = events["event_id"].to_numpy() % ID_BLOCK
    pools, lo = [], 0
    for name, hi in CLASS_BOUNDS:
        rows = np.flatnonzero((block >= lo) & (block < hi))
        if len(rows) < n_files * (hi - lo):
            raise ValueError(
                f"{events_path}: {len(rows)} {name} events, "
                f"{n_files} files need {n_files * (hi - lo)}")
        pools.append((name, rng.permutation(rows), hi - lo))
        lo = hi
    offset = 0
    for i in range(n_files):
        picked = np.concatenate([rows[i * q:(i + 1) * q] for _n, rows, q in pools])
        stale = np.concatenate([np.full(q, name == "stale") for name, _r, q in pools])
        order = rng.permutation(len(picked))
        picked, stale = picked[order], stale[order]
        n = len(picked)
        rows = events.take(pa.array(picked)).to_pylist()
        users = np.array([r["user_id"] for r in rows], dtype=np.int64)
        age_s = rng.uniform(0.0, 3_600.0, n) + np.where(stale, STALE_AGE_S, 0)
        ts_us = ((now_s - age_s) * 1_000_000).astype(np.int64)
        table = pa.table(
            {
                "key": pa.array([str(u).encode() for u in users], pa.binary()),
                "value": pa.array([_json_row(r) for r in rows], pa.binary()),
                "topic": pa.array(["events"] * n, pa.string()),
                "partition": pa.array(users % 32, pa.int32()),
                "offset": pa.array(np.arange(offset, offset + n), pa.int64()),
                "timestamp": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
                "headers": pa.array(
                    [[{"key": "source", "value": b"perfbench"}]] * n,
                    ENVELOPE_ARROW.field("headers").type,
                ),
                "attempt": pa.nulls(n, pa.int32()),
            },
            schema=ENVELOPE_ARROW,
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{i:05d}.parquet"))
        offset += n


def stage_tables(src_dir: str, out_dir: str, names: list[str], seed: int) -> None:
    """Copy each ``<name>.parquet`` from ``src_dir`` to ``out_dir`` with
    its rows in a seeded order. The
    fold queries split their source round-robin into micro-batch
    files, so the order decides which rows share a trigger; the graded
    result must not depend on it."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed)
    for name in names:
        table = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        perm = rng.permutation(table.num_rows)
        pq.write_table(
            table.take(pa.array(perm)), os.path.join(out_dir, f"{name}.parquet")
        )


def table_rows(sf_dir: str, name: str) -> int:
    return pq.ParquetFile(os.path.join(sf_dir, f"{name}.parquet")).metadata.num_rows
