"""Seeded transcript change-log generator (FIXTURES.md F1/F2 shape).

DuckDB computes the whole log in one SQL statement from hashes of
``(lsn, seed, k)``, so the same seed gives the same rows and the program
under test only ever sees the parquet files. Shape:

- ``conv_id``: ~1% of ids (the hot set) receive ~30% of events;
- ``op``: each event draws a delete with 8% probability. A key's first
  event, and any event whose predecessor on the key drew a delete, is an
  ``I``; otherwise a delete draw gives ``D`` and anything else ``U``;
- payload columns are NULL on deletes; ``text`` mixes short turns, empty
  strings, NFC/NFD spellings of one word and rare >4 KiB values.

Segments are LSN-ordered parquet files: segment 0 is the head (the starting
table), segments 1.. are the tail, each ``seg_events`` events. Output is
cached under ``cache_dir`` by (workload make-up, seed); generation runs
before the benchmark's set-up clock starts.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import asdict, dataclass

import duckdb
import pyarrow.parquet as pq

HOT_SHARE_PCT = 30
CACHE_KEEP = 8  # generated logs kept on disk
DELETE_PCT = 8


@dataclass(frozen=True)
class LogShape:
    head_events: int
    seg_events: int
    n_segs: int
    n_convs: int
    n_turns: int = 40

    @property
    def n_events(self) -> int:
        return self.head_events + self.seg_events * self.n_segs

    def key(self) -> str:
        return (
            f"h{self.head_events}-s{self.seg_events}x{self.n_segs}"
            f"-c{self.n_convs}-t{self.n_turns}"
        )


def _log_sql(shape: LogShape, seed: int) -> str:
    n_hot = max(shape.n_convs // 100, 1)
    s = int(seed)
    # NULL payload on an effective delete; ``prev_sel`` is the previous
    # event's op draw for the same key (NULL on the key's first event)
    is_del = "(prev_sel IS NOT NULL AND prev_sel >= {d} AND opsel < {d})".format(
        d=DELETE_PCT
    )
    return f"""
    WITH raw AS (
      SELECT i AS lsn,
        CASE WHEN hash(i, {s}, 1) % 100 < {HOT_SHARE_PCT}
             THEN hash(i, {s}, 2) % {n_hot}
             ELSE hash(i, {s}, 3) % {shape.n_convs} END AS conv_n,
        (hash(i, {s}, 4) % {shape.n_turns})::INTEGER AS turn_idx,
        (hash(i, {s}, 5) % 100)::INTEGER AS opsel,
        (hash(i, {s}, 6) % 4)::INTEGER AS role_n,
        (hash(i, {s}, 7) % 1000)::INTEGER AS text_n
      FROM range(1, {shape.n_events + 1}) t(i)
    ), keyed AS (
      SELECT *, lag(opsel) OVER (PARTITION BY conv_n, turn_idx ORDER BY lsn)
        AS prev_sel
      FROM raw
    )
    SELECT
      lsn,
      CASE WHEN prev_sel IS NULL OR prev_sel < {DELETE_PCT} THEN 'I'
           WHEN opsel < {DELETE_PCT} THEN 'D' ELSE 'U' END AS op,
      'conv_' || lpad(conv_n::VARCHAR, 8, '0') AS conv_id,
      turn_idx,
      CASE WHEN {is_del} THEN NULL
           ELSE ['user', 'assistant', 'system', 'tool'][role_n + 1] END AS role,
      CASE WHEN {is_del} THEN NULL
           WHEN text_n = 0 THEN repeat('long turn body ', 300)
           WHEN text_n < 10 THEN ''
           WHEN text_n < 20 THEN 'caf' || chr(233) || ' ' || lsn::VARCHAR
           WHEN text_n < 30 THEN 'cafe' || chr(769) || ' ' || lsn::VARCHAR
           ELSE 'turn ' || lsn::VARCHAR || ' '
                || repeat('tok ', (text_n % 24)::INTEGER) END AS text,
      CASE WHEN {is_del} THEN NULL
           WHEN role_n = 3 THEN 'search' ELSE '' END AS tool,
      CASE WHEN {is_del} THEN NULL
           ELSE make_timestamp(1704067200000000 + lsn * 1000000)::TIMESTAMPTZ
      END AS ts
    FROM keyed
    """


def write_log(out_dir: str, shape: LogShape, seed: int) -> None:
    """Generate the log and write one lsn-ordered parquet file per segment."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        log = con.execute(f"SELECT * FROM ({_log_sql(shape, seed)}) ORDER BY lsn").arrow()
    finally:
        con.close()
    # lsns are 1..n_events, so row offsets are lsn offsets
    bounds = [0, shape.head_events] + [
        shape.head_events + (i + 1) * shape.seg_events for i in range(shape.n_segs)
    ]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        pq.write_table(log.slice(lo, hi - lo), os.path.join(out_dir, segment_name(i)))


def segment_name(i: int) -> str:
    return f"seg-{i:05d}.parquet"


def ensure_log(cache_dir: str, shape: LogShape, seed: int) -> str:
    """Directory of the (seed, shape) log, generating it on first use."""
    final = os.path.join(cache_dir, f"{shape.key()}-seed{int(seed)}")
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    tmp = os.path.join(cache_dir, f".tmp-{uuid.uuid4().hex}")
    try:
        write_log(tmp, shape, seed)
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            json.dump({"seed": int(seed), **asdict(shape)}, f)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    _evict(cache_dir, keep=CACHE_KEEP)
    return final


def _evict(cache_dir: str, keep: int) -> None:
    """Drop all but the ``keep`` most recently generated logs."""
    logs = [
        os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
        if os.path.exists(os.path.join(cache_dir, d, "_DONE"))
    ]
    logs.sort(key=lambda d: os.path.getmtime(os.path.join(d, "_DONE")))
    for d in logs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)
