"""Rows the sink's committed transactions changed, counted inside the
sqlite connections the engine opens.

The traced ``oplog_catchup`` run hands the engine a connection factory
whose connections are :class:`CountingConnection`. Every ``execute`` or
``executemany`` on a data table adds its ``rowcount`` (rows inserted,
updated or deleted) to the open transaction; ``commit`` appends that sum
to ``<database>.rows`` and ``rollback`` drops it. Writes to the progress
table are not counted. The connections live in the Python workers, so the
class is shipped by value and imports only the standard library.
"""

from __future__ import annotations

import sqlite3

PROGRESS_TABLE = "momyre_progress"


class _Cursor(sqlite3.Cursor):
    def execute(self, sql, *args):
        out = super().execute(sql, *args)
        self._add(sql)
        return out

    def executemany(self, sql, *args):
        out = super().executemany(sql, *args)
        self._add(sql)
        return out

    def _add(self, sql: str) -> None:
        if self.rowcount > 0 and PROGRESS_TABLE not in sql:
            self.connection.pending += self.rowcount


class CountingConnection(sqlite3.Connection):
    def __init__(self, database, *args, **kwargs) -> None:
        super().__init__(database, *args, **kwargs)
        self.log = f"{database}.rows"
        self.pending = 0

    def cursor(self, factory=_Cursor):
        return super().cursor(factory)

    def commit(self) -> None:
        super().commit()
        if self.pending:
            with open(self.log, "a") as f:
                f.write(f"{self.pending}\n")
        self.pending = 0

    def rollback(self) -> None:
        super().rollback()
        self.pending = 0


def committed_rows(database: str) -> int:
    """Rows changed by the transactions committed on ``database`` so far."""
    try:
        with open(f"{database}.rows") as f:
            return sum(int(line) for line in f if line.strip())
    except FileNotFoundError:
        return 0
