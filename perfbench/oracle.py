"""Independent LWW oracle over the generated log files (DuckDB, no Spark).

The final state of a transcript table after applying every event with
``lsn <= upto`` is, per primary key ``(conv_id, turn_idx)``, the row of the
max-lsn event, dropped when that event is a delete. Nothing here imports
the program under test.
"""

from __future__ import annotations

import duckdb

COLS = "conv_id, turn_idx, role, text, tool, ts"
# bytes of one live row as the user sees it: string columns by UTF-8
# length, int32 turn_idx as 4, timestamp ts as 8
_ROW_BYTES = (
    "strlen(conv_id) + 4 + coalesce(strlen(role), 0)"
    " + coalesce(strlen(text), 0) + coalesce(strlen(tool), 0) + 8"
)


def _files_sql(files: list[str]) -> str:
    return "[" + ", ".join(f"'{f}'" for f in files) + "]"


def state_sql(files: list[str], upto: int, keys: list[str] | None = None) -> str:
    """SQL for the live rows after every event with lsn <= ``upto``,
    optionally restricted to the given ``conv_id`` values."""
    where = f"lsn <= {int(upto)}"
    if keys is not None:
        quoted = ", ".join("'" + k.replace("'", "''") + "'" for k in keys) or "NULL"
        where += f" AND conv_id IN ({quoted})"
    return f"""
    SELECT {COLS} FROM (
      SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
      FROM read_parquet({_files_sql(files)}) WHERE {where}
    ) WHERE rn = 1 AND op <> 'D'
    """


class Oracle:
    """Answers state questions about one log directory at any watermark."""

    def __init__(self, files: list[str]):
        self.files = list(files)
        self.con = duckdb.connect()
        self.con.execute("SET threads = 4")
        self.con.execute("SET TimeZone = 'UTC'")
        self._counts: dict[int, tuple[int, int]] = {}

    def close(self) -> None:
        self.con.close()

    def live(self, upto: int) -> tuple[int, int]:
        """(live row count, live bytes) at watermark ``upto``."""
        if upto not in self._counts:
            n, b = self.con.execute(
                f"SELECT count(*), coalesce(sum({_ROW_BYTES}), 0) "
                f"FROM ({state_sql(self.files, upto)})"
            ).fetchone()
            self._counts[upto] = (int(n), int(b))
        return self._counts[upto]

    def rows_for_keys(self, upto: int, keys: list[str]) -> list[tuple]:
        return self.con.execute(
            f"SELECT * FROM ({state_sql(self.files, upto, keys)}) "
            "ORDER BY conv_id, turn_idx"
        ).fetchall()

    def diff_state(self, actual_glob: str, upto: int) -> tuple[int, int]:
        """(rows only in the table, rows only in the oracle), every column
        compared, duplicates counted."""
        actual = f"SELECT {COLS} FROM read_parquet('{actual_glob}')"
        expected = state_sql(self.files, upto)
        extra = self.con.execute(
            f"SELECT count(*) FROM ({actual} EXCEPT ALL {expected})"
        ).fetchone()[0]
        missing = self.con.execute(
            f"SELECT count(*) FROM ({expected} EXCEPT ALL {actual})"
        ).fetchone()[0]
        return int(extra), int(missing)


def normalize_rows(rows) -> list[tuple]:
    """Spark ``Row`` objects or DuckDB tuples → comparable sorted tuples.

    Timestamps become microseconds since the epoch: PySpark hands back
    naive local-time datetimes and DuckDB aware ones, and ``timestamp()``
    reads each correctly."""
    out = []
    for r in rows:
        t = tuple(r)
        ts = t[5] if t[5] is None else round(t[5].timestamp() * 1_000_000)
        out.append((*t[:5], ts))
    return sorted(out, key=lambda x: (x[0], x[1]))
