"""sqlite sink connections that fail on cue, for crash-point tests.

``CrashingFactory`` is a picklable connection factory, like the
``functools.partial(sqlite3.connect, ...)`` the other sink tests use. It
counts three kinds of calls across every process that uses it (Spark runs
the sink writer in Python worker processes), in a small JSON state file:

- ``executemany``: a cursor's ``executemany``;
- ``commit``: a connection's ``commit``;
- ``close``: a connection's ``close`` after that connection committed.

When armed with ``point`` and ``at``, the ``at``-th call of kind ``point``
raises :class:`Crash` once; every later call goes through. ``executemany``
and ``commit`` raise before the call reaches sqlite, so the open
transaction rolls back. ``close`` raises after sqlite has committed and
closed: the sink holds the data, but the task that wrote it fails.
"""

from __future__ import annotations

import fcntl
import json
import os
import sqlite3

POINTS = ("executemany", "commit", "close")


class Crash(RuntimeError):
    pass


class CrashingFactory:
    def __init__(self, db: str, state: str, point: str | None = None, at: int = 0):
        self.db, self.state, self.point, self.at = db, state, point, at
        with open(state, "w") as f:
            json.dump({"fired": False, "counts": {}}, f)

    def __call__(self):
        return _Conn(sqlite3.connect(self.db, timeout=60), self)

    def tick(self, kind: str) -> bool:
        """Count one call of ``kind``; True when the armed crash fires now."""
        with open(self.state, "r+") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            st = json.load(f)
            n = st["counts"][kind] = st["counts"].get(kind, 0) + 1
            fire = not st["fired"] and kind == self.point and n == self.at
            st["fired"] = st["fired"] or fire
            f.seek(0)
            f.truncate()
            json.dump(st, f)
        return fire

    def read(self) -> dict:
        with open(self.state) as f:
            return json.load(f)


class _Cursor:
    def __init__(self, cur, factory: CrashingFactory) -> None:
        self._cur, self._factory = cur, factory

    def executemany(self, sql, args):
        if self._factory.tick("executemany"):
            raise Crash(f"crash before executemany #{self._factory.at}")
        return self._cur.executemany(sql, args)

    def __getattr__(self, name):
        return getattr(self._cur, name)


class _Conn:
    def __init__(self, conn, factory: CrashingFactory) -> None:
        self._conn, self._factory = conn, factory
        self._committed = False

    def cursor(self):
        return _Cursor(self._conn.cursor(), self._factory)

    def commit(self) -> None:
        if self._factory.tick("commit"):
            raise Crash(f"crash at commit #{self._factory.at}")
        self._conn.commit()
        self._committed = True

    def close(self) -> None:
        self._conn.close()
        if self._committed and self._factory.tick("close"):
            raise Crash(f"crash on close #{self._factory.at} after a commit")

    def __getattr__(self, name):
        return getattr(self._conn, name)


def ship() -> None:
    """Pickle this module by value, so Spark's workers need not import it."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
