"""Tests of the benchmark's own parts (no Spark): the seeded generator and
the LWW oracle.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from loggen import LogShape, ensure_log, segment_name  # noqa: E402
from oracle import Oracle, normalize_rows  # noqa: E402

SHAPE = LogShape(head_events=300, seg_events=50, n_segs=4, n_convs=40, n_turns=5)


def _rows(log_dir: str) -> list[tuple]:
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{log_dir}/seg-*.parquet') ORDER BY lsn"
    ).fetchall()


def test_generator_is_deterministic_under_a_seed(tmp_path):
    a = ensure_log(str(tmp_path / "a"), SHAPE, seed=7)
    b = ensure_log(str(tmp_path / "b"), SHAPE, seed=7)
    c = ensure_log(str(tmp_path / "c"), SHAPE, seed=8)
    assert _rows(a) == _rows(b)
    assert _rows(a) != _rows(c)
    # cached: a second call returns the same directory without rewriting
    mtime = os.path.getmtime(os.path.join(a, segment_name(0)))
    assert ensure_log(str(tmp_path / "a"), SHAPE, seed=7) == a
    assert os.path.getmtime(os.path.join(a, segment_name(0))) == mtime


def test_generator_segments_and_envelope_shape(tmp_path):
    d = ensure_log(str(tmp_path), SHAPE, seed=3)
    for i in range(SHAPE.n_segs + 1):
        lsns = pq.read_table(os.path.join(d, segment_name(i)))["lsn"].to_pylist()
        assert lsns == sorted(lsns)
        want = SHAPE.head_events if i == 0 else SHAPE.seg_events
        assert len(lsns) == want
    rows = _rows(d)
    assert [r[0] for r in rows] == list(range(1, SHAPE.n_events + 1))
    ops = {r[1] for r in rows}
    assert ops == {"I", "U", "D"}
    for lsn, op, conv, turn, role, text, tool, ts in rows:
        assert (role is None) == (op == "D")
        assert (text is None) == (op == "D") and (ts is None) == (op == "D")
    # a key's first event is always an insert
    seen = set()
    for r in rows:
        if (r[2], r[3]) not in seen:
            assert r[1] == "I"
            seen.add((r[2], r[3]))


T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _ev(lsn, op, conv, turn, text=None):
    if op == "D":
        return (lsn, op, conv, turn, None, None, None, None)
    return (lsn, op, conv, turn, "user", text, "", T0 + dt.timedelta(seconds=lsn))


# File order is NOT lsn order; the oracle must order by lsn.
HAND_LOG = [
    _ev(5, "U", "c1", 0, "c1/0 v5"),
    _ev(1, "I", "c1", 0, "c1/0 v1"),
    _ev(3, "U", "c1", 0, "c1/0 v3"),
    _ev(2, "I", "c1", 1, "c1/1 v2"),
    _ev(9, "D", "c1", 1),               # deleted for good
    _ev(4, "I", "c2", 0, "c2/0 v4"),
    _ev(6, "D", "c2", 0),
    _ev(12, "I", "c2", 0, "c2/0 v12"),  # delete-then-reinsert
    _ev(7, "I", "c2", 1, "c2/1 v7"),
    _ev(20, "U", "c2", 1, "c2/1 v20"),
    _ev(8, "I", "c3", 0, "c3/0 v8"),
    _ev(10, "D", "c3", 0),
    _ev(11, "I", "c3", 2, ""),           # empty text is a value, not NULL
    _ev(14, "U", "c3", 2, "café"),
    _ev(13, "U", "c3", 2, "café"),       # older than lsn 14: loses
    _ev(15, "I", "c4", 0, "c4/0 v15"),
    _ev(16, "U", "c4", 0, "c4/0 v16"),
    _ev(17, "D", "c4", 0),
    _ev(18, "I", "c4", 0, "c4/0 v18"),
    _ev(19, "D", "c4", 0),               # reinserted, then deleted again
    _ev(21, "I", "c5", 3, "c5/3 v21"),
    _ev(22, "U", "c5", 3, "c5/3 v22"),
    _ev(23, "U", "c5", 3, "c5/3 v23"),
    _ev(24, "I", "c5", 4, "c5/4 v24"),
    _ev(26, "D", "c5", 4),
    _ev(25, "U", "c5", 4, "c5/4 v25"),   # arrives after its delete, older
    _ev(27, "I", "c6", 0, "c6/0 v27"),
    _ev(30, "U", "c6", 0, "c6/0 v30"),
    _ev(28, "U", "c6", 0, "c6/0 v28"),
    _ev(29, "D", "c6", 0),               # a later update re-creates it
    _ev(31, "I", "c7", 0, "c7/0 v31"),
]

SCHEMA = pa.schema([
    ("lsn", pa.int64()), ("op", pa.string()), ("conv_id", pa.string()),
    ("turn_idx", pa.int32()), ("role", pa.string()), ("text", pa.string()),
    ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])


def _write(path, rows, schema=SCHEMA):
    cols = list(zip(*rows))
    pq.write_table(pa.table([pa.array(c, f.type) for c, f in zip(cols, schema)],
                            schema=schema), path)


def _live(upto):
    """Hand replay: the expected state, computed without SQL."""
    state = {}
    for ev in sorted(e for e in HAND_LOG if e[0] <= upto):
        key = (ev[2], ev[3])
        if ev[1] == "D":
            state.pop(key, None)
        else:
            state[key] = ev
    return state


def _expected(upto, keys=None):
    rows = [(e[2], e[3], e[4], e[5], e[6], e[7]) for e in _live(upto).values()
            if keys is None or e[2] in keys]
    return normalize_rows(rows)


def test_oracle_on_hand_written_log(tmp_path):
    # spread the log over two files, interleaved in lsn
    _write(tmp_path / "a.parquet", HAND_LOG[::2])
    _write(tmp_path / "b.parquet", HAND_LOG[1::2])
    o = Oracle([str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")])
    try:
        final = _expected(31)
        assert [(r[0], r[1], r[3]) for r in final] == [
            ("c1", 0, "c1/0 v5"),
            ("c2", 0, "c2/0 v12"),
            ("c2", 1, "c2/1 v20"),
            ("c3", 2, "café"),
            ("c5", 3, "c5/3 v23"),
            ("c6", 0, "c6/0 v30"),
            ("c7", 0, "c7/0 v31"),
        ]
        for upto in (1, 6, 11, 13, 17, 19, 25, 26, 29, 31):
            assert o.live(upto)[0] == len(_live(upto)), upto
            assert normalize_rows(o.rows_for_keys(upto, ["c2", "c4", "c6"])) == _expected(
                upto, {"c2", "c4", "c6"}
            ), upto
        assert normalize_rows(o.rows_for_keys(31, ["nope"])) == []
        # live bytes: conv_id + 4 + role + text + tool + 8 per live row
        want_bytes = sum(
            len(e[2].encode()) + 4 + len(e[4]) + len(e[5].encode()) + len(e[6]) + 8
            for e in _live(31).values()
        )
        assert o.live(31)[1] == want_bytes
    finally:
        o.close()


def test_oracle_state_diff_sees_both_directions(tmp_path):
    _write(tmp_path / "log.parquet", HAND_LOG)
    o = Oracle([str(tmp_path / "log.parquet")])
    state_schema = pa.schema([f for f in SCHEMA if f.name not in ("lsn", "op")])
    good = [(e[2], e[3], e[4], e[5], e[6], e[7]) for e in _live(31).values()]
    try:
        _write(tmp_path / "good.parquet", good, state_schema)
        assert o.diff_state(str(tmp_path / "good.parquet"), 31) == (0, 0)
        # one stale value (c1/0 still at v3) and one resurrected delete
        bad = [r for r in good if r[:2] != ("c1", 0)]
        bad.append(("c1", 0, "user", "c1/0 v3", "", T0 + dt.timedelta(seconds=5)))
        bad.append(("c4", 0, "user", "c4/0 v18", "", T0 + dt.timedelta(seconds=18)))
        _write(tmp_path / "bad.parquet", bad, state_schema)
        assert o.diff_state(str(tmp_path / "bad.parquet"), 31) == (2, 1)
    finally:
        o.close()
